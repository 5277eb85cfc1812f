package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.stream.Sync

/** End-to-end streaming sync replay (SURVEY.md §5.4): file-source
  * micro-batches through the full router→handlers→merge pipeline with a
  * real checkpoint, exercising offset recovery (S2), idempotent upserts
  * (S8), cross-batch voter-set state (S5), and watermarked windows (S4).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  private def opLine(block: Long, ts: String, tpe: String, payloadJson: String): String = {
    val quoted = payloadJson.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"block_num":$block,"timestamp":"$ts","op_type":"$tpe","payload":"$quoted"}"""
  }

  private def comment(author: String, permlink: String, title: String): String =
    s"""{"author":"$author","permlink":"$permlink","parent_author":"","parent_permlink":"general",
       |"title":"$title","body":"b","json_metadata":"{}"}""".stripMargin.replace("\n", "")

  private def vote(voter: String, author: String, permlink: String, weight: Int): String =
    s"""{"voter":"$voter","author":"$author","permlink":"$permlink","weight":$weight}"""

  private def writeOps(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)

  test("sync: micro-batches, checkpoint restart, latest-wins, cross-batch vote state") {
    val opsDir = tmp(); val ckpt = tmp() + "/ckpt"; val state = tmp() + "/state"

    // wave 1: two posts + one vote
    writeOps(opsDir, "w1.json", Seq(
      opLine(1, "2024-01-01T00:00:00", "comment", comment("alice", "p1", "v1")),
      opLine(1, "2024-01-01T00:00:00", "comment", comment("bob", "p2", "hello")),
      opLine(2, "2024-01-01T00:01:00", "vote", vote("carol", "alice", "p1", 100))))
    Sync.start(spark, opsDir, ckpt, state).awaitTermination()

    val posts1 = spark.read.parquet(s"$state/posts")
    assert(posts1.count() === 2)
    val sets1 = spark.read.parquet(s"$state/vote_sets")
    assert(sets1.select("upvotes").as[Seq[String]].head() === Seq("carol"))

    // wave 2 (same checkpoint ⇒ only the new file is processed): a
    // re-post of alice/p1 (newer), a second voter, and a duplicate vote
    writeOps(opsDir, "w2.json", Seq(
      opLine(3, "2024-01-02T00:00:00", "comment", comment("alice", "p1", "v2")),
      opLine(3, "2024-01-02T00:01:00", "vote", vote("dave", "alice", "p1", 50)),
      opLine(3, "2024-01-02T00:02:00", "vote", vote("carol", "alice", "p1", 100)),
      opLine(3, "2024-01-02T00:03:00", "vote", vote("eve", "ghost", "nope", 10))))
    Sync.start(spark, opsDir, ckpt, state).awaitTermination()

    val posts2 = spark.read.parquet(s"$state/posts")
    assert(posts2.count() === 2, "latest-wins: re-post must not add a row")
    assert(posts2.filter(col("author") === "alice")
      .select("text_title").as[String].head() === "v2")

    val sets2 = spark.read.parquet(s"$state/vote_sets")
    // carol voted twice -> still once; dave appended; ghost-post vote dropped (J1)
    assert(sets2.count() === 1)
    assert(sets2.select("upvotes").as[Seq[String]].head() === Seq("carol", "dave"))

    // wave 3: restart with NO new data — state must be unchanged (S2/S8)
    Sync.start(spark, opsDir, ckpt, state).awaitTermination()
    val posts3 = spark.read.parquet(s"$state/posts")
    assert(posts3.orderBy("post_id").collect() === posts2.orderBy("post_id").collect())

    // accounts: last_active reflects the newest op per account
    val acct = spark.read.parquet(s"$state/accounts")
    assert(acct.filter(col("name") === "carol")
      .select(date_format(col("last_active"), "yyyy-MM-dd HH:mm:ss")).as[String]
      .head() === "2024-01-02 00:02:00")
  }

  test("watermarked tumbling window counts (S4)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = Sync.windowedCounts(df, "10 minutes", "10 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("wincounts").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 00:01:00"), "click", 1.0),
      (t("2024-01-01 00:05:00"), "click", 2.0),
      (t("2024-01-01 00:11:00"), "click", 4.0))
    q.processAllAvailable()
    val out = spark.table("wincounts")
      .select(col("n"), col("total_value")).as[(Long, Double)].collect().sorted
    q.stop()
    assert(out === Array((1L, 4.0), (2L, 3.0)))
  }

  test("flatMapGroupsWithState: cross-batch keyed dedup (S5 custom-state path)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = graft.stream.StatefulDedup.firstSeenOnly(mem.toDS())
    val q = out.toDF("user", "token").writeStream
      .outputMode("append").format("memory").queryName("dedup_out").start()
    mem.addData((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"))   // batch 1
    q.processAllAvailable()
    mem.addData((1L, "a"), (1L, "c"), (2L, "a"))              // batch 2: dups suppressed
    q.processAllAvailable()
    val rows = spark.table("dedup_out")
      .as[(Long, String)].collect().sorted
    q.stop()
    assert(rows === Array((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a")))
  }

  test("quality filters run unchanged on a stream (stateless batch/stream unification)") {
    // gopherQuality/c4Clean are pure per-row projections, so the SAME
    // operator code must work as a streaming transform with no
    // modification — the property that lets one curation codebase serve
    // both the backfill and the live ingest path.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")
    val combined = graft.text.Quality.c4Clean(docs)
      .select(col("doc_id"), col("n_kept"), col("keep_doc"))
    val q = combined.writeStream
      .outputMode("append").format("memory").queryName("quality_out").start()
    val goodDoc = Seq(
      "First proper sentence with plenty of words here.",
      "Second proper sentence with plenty of words here.",
      "Third proper sentence with plenty of words here.").mkString("\n")
    mem.addData((1L, goodDoc), (2L, "no punctuation at all"))
    q.processAllAvailable()
    mem.addData((3L, goodDoc + "\ncode { brace }"))
    q.processAllAvailable()
    val rows = spark.table("quality_out")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    q.stop()
    assert(rows === Array((1L, 3L, true), (2L, 0L, false), (3L, 3L, false)))
    // and the batch twin computes the identical verdicts
    val batch = graft.text.Quality.c4Clean(
        Seq((1L, goodDoc), (2L, "no punctuation at all"),
          (3L, goodDoc + "\ncode { brace }")).toDF("doc_id", "text"))
      .select(col("doc_id"), col("n_kept"), col("keep_doc"))
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(batch === rows)
  }

  test("session windows in streaming mode match the gap rule (S4)") {
    // drive session_window through a memory sink on a small in-memory stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "user_id")
    val q = Sync.sessionCounts(df.withColumn("event_type", lit("x"))
        .withColumn("value", lit(1.0)).withColumn("event_id", lit(1L)),
        gap = "5 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("sessions").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 00:00:00"), 1L), (t("2024-01-01 00:02:00"), 1L), // session A
      (t("2024-01-01 00:20:00"), 1L),                                 // session B
      (t("2024-01-01 00:00:00"), 2L))
    q.processAllAvailable()
    val out = spark.table("sessions")
      .select(col("user_id"), col("n_events")).as[(Long, Long)].collect().sorted
    q.stop()
    assert(out === Array((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("streaming near-dup matches the batch operator and catches cross-batch pairs") {
    // originals arrive in wave 1, their 1-word edits in wave 2 — every
    // qualifying pair SPANS the batch boundary, so finding it proves the
    // bucket state survives micro-batches. The pair SET (emission is
    // at-least-once across bands) must equal the batch operator's
    // output on the same corpus with identical parameters.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = (0 until 8).flatMap { i =>
      val b = s"document number $i with a stable shared body of many words " +
        s"covering topic $i in detail for the dedup fixture today"
      Seq((i * 2L, b), (i * 2 + 1L, b.replace("today", "tonight")))
    } ++ (0 until 4).map(i => (100L + i, s"unrelated singleton $i " + (s"z$i " * 8)))
    val mem = MemoryStream[(Long, String)]
    val q = graft.stream.StreamingNearDup
      .nearDupPairs(mem.toDS().toDF("doc_id", "text"))
      .toDF("id_a", "id_b", "jaccard")
      .writeStream.outputMode("append").format("memory").queryName("neardup_out").start()
    mem.addData(corpus.filter(_._1 % 2 == 0): _*)   // originals
    q.processAllAvailable()
    mem.addData(corpus.filter(_._1 % 2 == 1): _*)   // edits, one batch later
    q.processAllAvailable()
    val streamed = spark.table("neardup_out")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    q.stop()
    val batch = graft.text.Dedup.minhashNearDups(corpus.toDF("doc_id", "text"), threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.size === 8, "every planted cross-batch pair must surface")
  }

  test("streaming phash dedup matches the batch operator across a batch boundary") {
    // originals in wave 1, the edited + exact copies in wave 2: every
    // qualifying pair spans the micro-batch boundary, so finding them
    // all proves band-bucket state survives batches. Pair SET parity vs
    // the batch join (emission is at-least-once across bands).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.multimodal.Multimodal
      .syntheticImageCorpus(spark, 12, nEdited = 4, nExact = 4)
    val rows = corpus.as[(Long, String, Array[Byte])].collect()
    val mem = MemoryStream[(Long, String, Array[Byte])]
    val q = graft.stream.StreamingMediaNearDup
      .phashPairs(mem.toDS().toDF("media_id", "media_type", "payload"), maxHamming = 8)
      .toDF("id_a", "id_b", "hamming")
      .writeStream.outputMode("append").format("memory").queryName("phash_out").start()
    mem.addData(rows.filter(_._1 < 1000L).toSeq: _*)    // originals
    q.processAllAvailable()
    mem.addData(rows.filter(_._1 >= 1000L).toSeq: _*)   // copies, one batch later
    q.processAllAvailable()
    val streamed = spark.table("phash_out")
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    q.stop()
    val batch = graft.multimodal.Multimodal.imagePhashNearDups(corpus)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(streamed === batch)
    for (i <- 0L until 4L)
      assert(streamed.exists(p => p._1 == i && p._2 == 1000L + i),
        s"edited cross-batch near-dup of $i must surface")
    for (i <- 4L until 8L)
      assert(streamed.contains((i, 2000L + i, 0)),
        s"exact cross-batch copy of $i must surface at hamming 0")
  }

  test("streaming audio dedup matches the batch operator (gain-scaled cross-batch copies)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.multimodal.Multimodal
      .syntheticAudioCorpus(spark, 12, nGained = 4, nExact = 4)
    val rows = corpus.as[(Long, String, Array[Byte])].collect()
    val mem = MemoryStream[(Long, String, Array[Byte])]
    val q = graft.stream.StreamingMediaNearDup
      .audioPairs(mem.toDS().toDF("media_id", "media_type", "payload"))
      .toDF("id_a", "id_b", "hamming")
      .writeStream.outputMode("append").format("memory").queryName("afp_out").start()
    mem.addData(rows.filter(_._1 < 1000L).toSeq: _*)
    q.processAllAvailable()
    mem.addData(rows.filter(_._1 >= 1000L).toSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("afp_out")
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    q.stop()
    val batch = graft.multimodal.Multimodal.audioFingerprintNearDups(corpus)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(streamed === batch)
    for (i <- 0L until 4L)
      assert(streamed.exists(p => p._1 == i && p._2 == 1000L + i),
        s"gain-scaled cross-batch copy of $i must surface")
  }

  test("stream-stream interval join matches the batch join across a batch boundary") {
    // two LIVE inputs (not stream-static): left events joined to right
    // tags on key + ±5-minute interval, watermarks bounding both join
    // states. The right side arrives one micro-batch AFTER the left, so
    // every emitted pair proves buffered-state matching; the result set
    // must equal the batch join under the identical predicate.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val lRows = Seq((t("2024-01-01 10:00:00"), 1L, 10.0), (t("2024-01-01 10:20:00"), 1L, 20.0),
      (t("2024-01-01 10:00:00"), 2L, 30.0))
    val rRows = Seq((t("2024-01-01 10:03:00"), 1L, "near"), (t("2024-01-01 10:12:00"), 1L, "mid"),
      (t("2024-01-01 10:04:00"), 3L, "nokey"))
    val l = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val r = MemoryStream[(java.sql.Timestamp, Long, String)]
    val cond = "u = u2 AND rts BETWEEN lts - INTERVAL 5 MINUTES AND lts + INTERVAL 5 MINUTES"
    val joined = l.toDF().toDF("lts", "u", "value").withWatermark("lts", "10 minutes")
      .join(r.toDF().toDF("rts", "u2", "tag").withWatermark("rts", "10 minutes"),
        expr(cond))
      .select(col("u"), col("value"), col("tag"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out").start()
    l.addData(lRows: _*)
    q.processAllAvailable()
    r.addData(rRows: _*)           // arrives a batch later — state must match
    q.processAllAvailable()
    val streamed = spark.table("ssjoin_out")
      .as[(Long, Double, String)].collect().toSet
    q.stop()
    val batch = lRows.toDF("lts", "u", "value")
      .join(rRows.toDF("rts", "u2", "tag"), expr(cond))
      .select(col("u"), col("value"), col("tag"))
      .as[(Long, Double, String)].collect().toSet
    assert(streamed === batch)
    // 10:00/u1 matches "near" only; 10:20 matches nothing (12:00 is 8 min
    // away); u2/u3 never pair
    assert(streamed === Set((1L, 10.0, "near")))
  }

  test("Bloom decontamination runs unchanged on a stream (stateless sketch-literal probe)") {
    // the sketch is a plan literal and the flag an exists() probe over
    // the doc's own shingles — no join, no aggregate — so the SAME
    // operator serves backfill and live ingest; flags must match the
    // batch join+agg form on the identical corpus.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val benchText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val reference = Seq((900L, benchText)).toDF("doc_id", "text")
    val bloom = graft.text.Bloom.buildLongBloom(
      reference.select(explode(graft.text.Dedup.shingleHashes(col("text"), 3)).as("v")), "v")
    val corpus = Seq(
      (1L, "completely unrelated content with no shared phrases whatsoever in it"),
      (2L, s"a document quoting: $benchText verbatim inside"),
      (3L, "another clean document talking about entirely different things"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.text.Bloom
      .contaminationFlagStateless(mem.toDS().toDF("doc_id", "text"), bloom)
      .writeStream.outputMode("append").format("memory").queryName("bloom_flags_out").start()
    mem.addData(corpus(0), corpus(1))
    q.processAllAvailable()
    mem.addData(corpus(2))
    q.processAllAvailable()
    val streamed = spark.table("bloom_flags_out")
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    q.stop()
    assert(streamed === Seq((1L, false), (2L, true), (3L, false)))
    val batch = graft.text.Bloom
      .bloomContaminationFlag(corpus.toDF("doc_id", "text"), bloom)
      .select("doc_id", "flagged").as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(batch === streamed)
  }

  test("streaming sessionization merges windows across micro-batches and matches batch q51 semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    // user 1's first session SPANS the batch boundary (10:09 arrives a
    // batch after 10:05 but within the gap) — finding one merged
    // session proves native session-window state survives micro-batches
    val wave1 = Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:05:00")),
      (2L, ts("2024-01-01 11:00:00")))
    val wave2 = Seq((1L, ts("2024-01-01 10:09:00")), (1L, ts("2024-01-01 10:30:00")),
      (2L, ts("2024-01-01 11:20:00")))
    val mem = MemoryStream[(Long, Timestamp)]
    // the watermark is GLOBAL (max event time - delay): user 2's 11:00
    // in wave 1 would otherwise mark user 1's 10:09 wave-2 arrival as
    // late and drop it — the delay must cover cross-user event-time
    // skew between batches, exactly as in production
    val q = graft.stream.StreamingSessionize
      .sessions(mem.toDS().toDF("user_id", "ts"),
        watermarkDelay = "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("sess_out").start()
    mem.addData(wave1: _*); q.processAllAvailable()
    mem.addData(wave2: _*); q.processAllAvailable()
    // two sentinel batches walk the watermark past every real session's
    // end (watermark advances from the PREVIOUS batch's max event time)
    mem.addData((99L, ts("2024-01-02 00:00:00"))); q.processAllAvailable()
    mem.addData((99L, ts("2024-01-02 00:01:00"))); q.processAllAvailable()
    val streamed = spark.table("sess_out")
      .filter(col("user_id") =!= 99L)
      .select(col("user_id"), col("session_start"),
        // session_window end = last activity + gap: map onto q51's max(ts)
        (unix_micros(col("session_end")) - 600L * 1000000L).as("last_us"),
        col("n_events"))
      .as[(Long, Timestamp, Long, Long)].collect().toSet
    q.stop()
    // batch q51 gap logic (lag + running counter) over the same events
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val batch = (wave1 ++ wave2).toDF("user_id", "ts")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("is_new", (col("prev_us").isNull ||
        (unix_micros(col("ts")) - col("prev_us") > 600L * 1000000L)).cast("int"))
      .withColumn("sidx", sum(col("is_new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("user_id"), col("sidx"))
      .agg(min(col("ts")).as("session_start"), max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("last_us"), col("n_events"))
      .as[(Long, Timestamp, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.size === 4, "1:[10:00-10:09]x3, 1:[10:30]x1, 2:[11:00]x1, 2:[11:20]x1")
    assert(streamed.exists(s => s._1 == 1L && s._4 == 3L),
      "the cross-batch merged session must carry all 3 events")
  }

  test("streaming Holt trend equals the batch fold across batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val out = graft.stream.StreamingTrend.holt(mem.toDS())
    val q = out.toDF("key", "n", "level", "trend").writeStream
      .outputMode("append").format("memory").queryName("trend_out").start()
    // the q176 hand fixture (values 1, 2, 4 in micros) split so the
    // recurrence must survive a batch boundary mid-sequence
    mem.addData((7L, 1L, 1000000L), (7L, 2L, 2000000L)) // batch 1
    q.processAllAvailable()
    mem.addData((7L, 3L, 4000000L))                     // batch 2
    q.processAllAvailable()
    val rows = spark.table("trend_out")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    q.stop()
    assert(rows.toSeq === Seq(
      (7L, 2L, 1500000L, 150000L),  // after batch 1 = batch fold of [1,2]
      (7L, 3L, 2825000L, 502500L))) // drained = q176's batch result
  }

  test("streaming CUSUM equals the batch recurrence across batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    // the q182 hand fixture: counts 1,1,4 in micros with trained μ=2e6
    val out = graft.stream.StreamingCusum.monitor(mem.toDS(), muMicros = 2000000L)
    val q = out.toDF("key", "seq", "s_hi", "s_lo", "alarm").writeStream
      .outputMode("append").format("memory").queryName("cusum_out").start()
    mem.addData((7L, 1L, 1000000L), (7L, 2L, 1000000L)) // batch 1
    q.processAllAvailable()
    mem.addData((7L, 3L, 4000000L))                     // batch 2
    q.processAllAvailable()
    val rows = spark.table("cusum_out")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._2)
    q.stop()
    assert(rows.toSeq === Seq(
      (7L, 1L, 0L, 900000L, false),
      (7L, 2L, 0L, 1800000L, true),   // crosses h = μ/2 across the boundary...
      (7L, 3L, 1900000L, 0L, true))) // ...and matches q182's batch rows
  }

  test("streaming W1 drift equals the batch operator after draining") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val ref = Map(0L -> 2L, 1L -> 2L)
    val mem = MemoryStream[(Long, Long, Long)]
    val out = graft.stream.StreamingDrift.monitor(mem.toDS(), ref, width = 10L)
    val q = out.toDF("key", "seq", "n_obs", "w1").writeStream
      .outputMode("append").format("memory").queryName("drift_out").start()
    mem.addData((7L, 1L, 0L), (7L, 2L, 0L)) // batch 1: two bucket-0 obs
    q.processAllAvailable()
    mem.addData((7L, 3L, 2L), (7L, 4L, 2L)) // batch 2: drift to bucket 2
    q.processAllAvailable()
    val rows = spark.table("drift_out")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    q.stop()
    assert(rows.map(r => (r._2, r._3, r._4)).toSeq ===
      Seq((2L, 2L, 5000000L), (4L, 4L, 5000000L)))
    // drained stream == the batch q252 operator on the same data
    val batchDf = (Seq((0L, "run"), (0L, "run"), (2L, "run"), (2L, "run")) ++
      Seq((0L, "ref"), (0L, "ref"), (1L, "ref"), (1L, "ref")))
      .toDF("bk", "g")
    val batchW1 = graft.analytics.StatsOps.wasserstein1Pairs(
        batchDf, group = "g", bucket = col("bk"), width = 10L)
      .select("w1_scaled_ppm").as[Long].head()
    assert(rows.last._4 === batchW1)
  }

  test("streaming SPRT matches the batch verdict across a batch boundary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val L = graft.analytics.InferOps.sprtLPosNanos
    val mem = MemoryStream[(String, Long, Long, Long)]
    val out = graft.stream.StreamingSprt.monitor(mem.toDS())
    val q = out.toDF("key", "seq", "cum_llr", "cum_n", "decision").writeStream
      .outputMode("append").format("memory").queryName("sprt_out").start()
    // the q212 fixture shape: 5 hits/day; crossing lands on day 3
    // (15·L ≥ ln 19), which arrives in the SECOND micro-batch; day 4
    // must replay the frozen verdict, not keep accumulating.
    mem.addData(("A", 1L, 5L, 5L), ("A", 2L, 5L, 5L))
    q.processAllAvailable()
    mem.addData(("A", 3L, 5L, 5L), ("A", 4L, 5L, 5L))
    q.processAllAvailable()
    val rows = spark.table("sprt_out")
      .as[(String, Long, Long, Long, String)].collect().sortBy(_._2)
    q.stop()
    assert(rows.toSeq === Seq(
      ("A", 1L, 5L * L, 5L, "continue"),
      ("A", 2L, 10L * L, 10L, "continue"),
      ("A", 3L, 15L * L, 15L, "h1"),
      ("A", 4L, 15L * L, 15L, "h1"))) // sticky: sampling stopped at the decision
    // final row equals the batch q212 verdict on the same dailies:
    // decision h1, n_at_decision 15, llr 15·L (InferOpsSpec's fixture)
  }

  // ---- checkpoint-restart coverage for the stateful analytics twins
  // (VERDICT r7 ask #7). The batch-parity tests above cross a BATCH
  // boundary inside one query; these cross a QUERY boundary: wave 1 is
  // drained, the query object is discarded, and a brand-new query on
  // the SAME checkpoint drains wave 2 from a file source. The cross-
  // wave values are only right if each twin's keyed state (Holt
  // level/trend, CUSUM s_lo, SPRT frozen verdict, drift histogram,
  // session windows, media band buckets) reloads from the state store
  // on recovery — the S2 property Sync already proves, now per twin.

  private def drainOnce(out: org.apache.spark.sql.DataFrame,
                        ckpt: String, dest: String): Unit =
    out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", dest).start()
      .awaitTermination()

  test("streaming Holt trend survives a checkpoint restart mid-sequence") {
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def holt = graft.stream.StreamingTrend.holt(
      spark.readStream.schema("_1 LONG, _2 LONG, _3 LONG").json(src)
        .as[(Long, Long, Long)]).toDF("key", "n", "level", "trend")
    writeOps(src, "w1.json", Seq(
      """{"_1":7,"_2":1,"_3":1000000}""", """{"_1":7,"_2":2,"_3":2000000}"""))
    drainOnce(holt, ckpt, dest)
    writeOps(src, "w2.json", Seq("""{"_1":7,"_2":3,"_3":4000000}"""))
    drainOnce(holt, ckpt, dest)
    val rows = spark.read.parquet(dest).as[(Long, Long, Long, Long)]
      .collect().sortBy(_._2)
    // wave-2 value only lands on the q176 batch fold if level/trend
    // state crossed the restart
    assert(rows.toSeq === Seq(
      (7L, 2L, 1500000L, 150000L),
      (7L, 3L, 2825000L, 502500L)))
  }

  test("streaming CUSUM survives a checkpoint restart (s_lo carries over)") {
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingCusum.monitor(
      spark.readStream.schema("_1 LONG, _2 LONG, _3 LONG").json(src)
        .as[(Long, Long, Long)], muMicros = 2000000L)
      .toDF("key", "seq", "s_hi", "s_lo", "alarm")
    writeOps(src, "w1.json", Seq("""{"_1":7,"_2":1,"_3":1000000}"""))
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", Seq(
      """{"_1":7,"_2":2,"_3":1000000}""", """{"_1":7,"_2":3,"_3":4000000}"""))
    drainOnce(mon, ckpt, dest)
    val rows = spark.read.parquet(dest)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._2)
    // seq-2's alarm (s_lo 1.8e6 ≥ h = μ/2) needs wave-1's 0.9e6 in state
    assert(rows.toSeq === Seq(
      (7L, 1L, 0L, 900000L, false),
      (7L, 2L, 0L, 1800000L, true),
      (7L, 3L, 1900000L, 0L, true)))
  }

  test("streaming SPRT replays its frozen verdict after a checkpoint restart") {
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    val L = graft.analytics.InferOps.sprtLPosNanos
    def mon = graft.stream.StreamingSprt.monitor(
      spark.readStream.schema("_1 STRING, _2 LONG, _3 LONG, _4 LONG").json(src)
        .as[(String, Long, Long, Long)])
      .toDF("key", "seq", "cum_llr", "cum_n", "decision")
    writeOps(src, "w1.json", Seq(
      """{"_1":"A","_2":1,"_3":5,"_4":5}""", """{"_1":"A","_2":2,"_3":5,"_4":5}""",
      """{"_1":"A","_2":3,"_3":5,"_4":5}"""))
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", Seq("""{"_1":"A","_2":4,"_3":5,"_4":5}"""))
    drainOnce(mon, ckpt, dest)
    val rows = spark.read.parquet(dest)
      .as[(String, Long, Long, Long, String)].collect().sortBy(_._2)
    // day 4 arrives AFTER the restart: replaying h1 with an unchanged
    // cum (15·L, 15) proves the frozen-verdict state recovered
    assert(rows.toSeq === Seq(
      ("A", 1L, 5L * L, 5L, "continue"),
      ("A", 2L, 10L * L, 10L, "continue"),
      ("A", 3L, 15L * L, 15L, "h1"),
      ("A", 4L, 15L * L, 15L, "h1")))
  }

  test("streaming W1 drift histogram survives a checkpoint restart") {
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingDrift.monitor(
      spark.readStream.schema("_1 LONG, _2 LONG, _3 LONG").json(src)
        .as[(Long, Long, Long)], Map(0L -> 2L, 1L -> 2L), width = 10L)
      .toDF("key", "seq", "n_obs", "w1")
    writeOps(src, "w1.json", Seq(
      """{"_1":7,"_2":1,"_3":0}""", """{"_1":7,"_2":2,"_3":0}"""))
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", Seq(
      """{"_1":7,"_2":3,"_3":2}""", """{"_1":7,"_2":4,"_3":2}"""))
    drainOnce(mon, ckpt, dest)
    val rows = spark.read.parquet(dest).as[(Long, Long, Long, Long)]
      .collect().sortBy(_._2)
    // the wave-2 W1 of 5e6 requires BOTH wave-1 bucket-0 observations
    // in the recovered histogram
    assert(rows.map(r => (r._2, r._3, r._4)).toSeq ===
      Seq((2L, 2L, 5000000L), (4L, 4L, 5000000L)))
  }

  test("streaming sessionization merges a session across a checkpoint restart") {
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def sess = graft.stream.StreamingSessionize.sessions(
      spark.readStream.schema("user_id LONG, ts TIMESTAMP").json(src),
      watermarkDelay = "2 hours")
    writeOps(src, "w1.json", Seq(
      """{"user_id":1,"ts":"2024-01-01T10:00:00"}""",
      """{"user_id":1,"ts":"2024-01-01T10:05:00"}""",
      """{"user_id":2,"ts":"2024-01-01T11:00:00"}"""))
    drainOnce(sess, ckpt, dest)
    // 10:09 continues user 1's open session ACROSS the restart
    writeOps(src, "w2.json", Seq(
      """{"user_id":1,"ts":"2024-01-01T10:09:00"}""",
      """{"user_id":1,"ts":"2024-01-01T10:30:00"}""",
      """{"user_id":2,"ts":"2024-01-01T11:20:00"}"""))
    drainOnce(sess, ckpt, dest)
    // two sentinel restarts walk the watermark past every session's end
    writeOps(src, "w3.json", Seq("""{"user_id":99,"ts":"2024-01-02T00:00:00"}"""))
    drainOnce(sess, ckpt, dest)
    writeOps(src, "w4.json", Seq("""{"user_id":99,"ts":"2024-01-02T00:01:00"}"""))
    drainOnce(sess, ckpt, dest)
    val got = spark.read.parquet(dest).filter(col("user_id") =!= 99L)
      .select(col("user_id"), date_format(col("session_start"), "HH:mm").as("s"),
        col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    // the merged [10:00–10:09] session must carry all 3 events even
    // though its third event arrived in a different QUERY than its first
    assert(got === Set((1L, "10:00", 3L), (1L, "10:30", 1L),
      (2L, "11:00", 1L), (2L, "11:20", 1L)))
  }

  test("streaming Misra-Gries: exact in the no-eviction regime, counts accumulate across restart") {
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingHeavyHitters.monitor(
      spark.readStream.schema("tok STRING").json(src), col("tok"),
      k = 8, nBuckets = 1)
      .toDF("bucket", "total", "token", "cnt")
    writeOps(src, "w1.json", Seq(
      """{"tok":"a"}""", """{"tok":"a"}""", """{"tok":"b"}"""))
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", Seq(
      """{"tok":"a"}""", """{"tok":"c"}""", """{"tok":"b"}"""))
    drainOnce(mon, ckpt, dest)
    val rows = spark.read.parquet(dest).as[(Long, Long, String, Long)]
      .collect().toSet
    // ≤ k distinct tokens ⇒ MG is exact: wave-2 counts are the FULL
    // history's counts, provable only if the sketch crossed the restart
    assert(rows === Set(
      (0L, 3L, "a", 2L), (0L, 3L, "b", 1L),
      (0L, 6L, "a", 3L), (0L, 6L, "b", 2L), (0L, 6L, "c", 1L)))
  }

  test("streaming Misra-Gries: eviction regime keeps the MG guarantees across restart") {
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingHeavyHitters.monitor(
      spark.readStream.schema("tok STRING").json(src), col("tok"),
      k = 1, nBuckets = 1)
      .toDF("bucket", "total", "token", "cnt")
    writeOps(src, "w1.json", Seq(
      """{"tok":"x"}""", """{"tok":"x"}""", """{"tok":"x"}""", """{"tok":"y"}"""))
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", Seq("""{"tok":"x"}""", """{"tok":"z"}"""))
    drainOnce(mon, ckpt, dest)
    val fin = spark.read.parquet(dest).as[(Long, Long, String, Long)]
      .collect().filter(_._2 == 6L)
    // x has frequency 4 > m/(k+1) = 3 ⇒ MUST be the surviving candidate
    assert(fin.map(_._3).toSeq === Seq("x"))
    val cnt = fin.head._4
    // never overcount; undercount ≤ ⌊m/(k+1)⌋; and cnt ≥ 2 is only
    // reachable when wave-1's counter survived the restart (a fresh
    // wave-2-only sketch ends empty: x:1 then z's decrement kills it)
    assert(cnt <= 4L && 4L - cnt <= 3L && cnt >= 2L)
  }

  test("streaming priority sample equals the batch draw across batches and a restart") {
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingPrioritySample.sample(
      spark.readStream.schema("doc_id LONG, w LONG").json(src), n = 10, nBuckets = 4)
      .toDF("bucket", "seen", "id", "w", "clock_r")
    // the CurationSpec fixture: 500 light rows vs 100 heavy rows, split
    // mid-stream so winning clocks arrive in BOTH queries
    val all = (0 until 500).map(i => (i.toLong, 1L)) ++
      (1000 until 1100).map(i => (i.toLong, 100L))
    def line(r: (Long, Long)) = s"""{"doc_id":${r._1},"w":${r._2}}"""
    writeOps(src, "w1.json", all.take(300).map(line))
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", all.drop(300).map(line))
    drainOnce(mon, ckpt, dest)
    // current sample = each bucket's latest (max-seen) buffer, cut to the
    // global top-10 by (clock, id) — the exactly-mergeable property
    val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
    val streamed = spark.read.parquet(dest)
      .withColumn("mx", max(col("seen")).over(wB))
      .filter(col("seen") === col("mx"))
      .select(col("id"), col("clock_r"))
      .as[(Long, Double)].collect()
      .sortBy { case (id, c) => (c, id) }.take(10).map(_._1).toSeq
    val batch = graft.analytics.Sampling.prioritySample(
        all.toDF("doc_id", "w"), weight = col("w"), n = 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(streamed === batch,
      "the live sample must equal the batch draw on the same rows")
  }

  test("streaming media near-dup band buckets survive a checkpoint restart") {
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingMediaNearDup.hammingPairs(
      spark.readStream.schema("id LONG, h LONG").json(src))
      .toDF("id_a", "id_b", "hamming")
    writeOps(src, "w1.json", Seq("""{"id":1,"h":5}"""))
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", Seq("""{"id":2,"h":7}""", """{"id":3,"h":65280}"""))
    drainOnce(mon, ckpt, dest)
    val got = spark.read.parquet(dest).as[(Long, Long, Int)].collect().toSet
    // (1,2) at hamming 1 is findable ONLY via wave-1's hash recovered
    // from band-bucket state; 0xFF00 is ≥10 bits from both — no false pair
    assert(got === Set((1L, 2L, 1)))
  }

  test("streaming zone map equals the batch index across batches and a restart") {
    import spark.implicits._
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingZoneMap.maintain(
      spark.readStream.schema("zone LONG, v LONG").json(src),
      col("zone"), col("v"))
      .toDF("zone", "n_rows", "v_min", "v_max")
    // zone 0 spans both waves (its min arrives in wave 1, its max in
    // wave 2 — the live index must fold across the restart); zone 1 is
    // wave-2-only
    writeOps(src, "w1.json", Seq(
      """{"zone":0,"v":100}""", """{"zone":0,"v":40}"""))
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", Seq(
      """{"zone":0,"v":250}""", """{"zone":1,"v":7}"""))
    drainOnce(mon, ckpt, dest)
    val wZ = org.apache.spark.sql.expressions.Window.partitionBy(col("zone"))
    val live = spark.read.parquet(dest)
      .withColumn("mx", max(col("n_rows")).over(wZ))
      .filter(col("n_rows") === col("mx"))
      .select(col("zone"), col("n_rows"), col("v_min"), col("v_max"))
      .as[(Long, Long, Long, Long)].collect().toSet
    // exactly-mergeable state ⇒ the drained index EQUALS the batch
    // aggregate over the same rows, arrival order and restart included
    val batch = Seq((0L, 100L), (0L, 40L), (0L, 250L), (1L, 7L))
      .toDF("zone", "v").groupBy(col("zone"))
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("v_min"),
        max(col("v")).as("v_max"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(live === batch)
  }

  test("streaming SAX RLE equals the batch run-length encoding, runs span restarts") {
    import spark.implicits._
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    // batch-fitted constants for the series 10,10,30,30,30,10 under the
    // q299 form: n=6, sx=120, pick sig so letters split around the mean
    val (n, sx, sig) = (6L, 120L, 100L)
    def mon = graft.stream.StreamingSax.symbolize(
      spark.readStream.schema("_1 LONG, _2 LONG, _3 LONG").json(src)
        .as[(Long, Long, Long)], n, sx, sig)
      .toDF("key", "run_idx", "letter", "run_len")
    // wave 1 ends INSIDE the 30-run; wave 2 continues it after a
    // restart, then switches back — the open run must survive in state
    val w1 = Seq((1L, 10L), (2L, 10L), (3L, 30L), (4L, 30L))
    val w2 = Seq((5L, 30L), (6L, 10L))
    def lines(xs: Seq[(Long, Long)]) =
      xs.map { case (seq, x) => s"""{"_1":0,"_2":$seq,"_3":$x}""" }
    writeOps(src, "w1.json", lines(w1))
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", lines(w2))
    drainOnce(mon, ckpt, dest)
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"), col("run_idx"))
    val rle = spark.read.parquet(dest)
      .withColumn("mx", max(col("run_len")).over(wR))
      .filter(col("run_len") === col("mx"))
      .select(col("run_idx"), col("letter"), col("run_len"))
      .distinct().as[(Long, String, Long)].collect().toSet
    // batch RLE of the same series through the same letter rule
    val letters = (w1 ++ w2).map { case (_, x) =>
      graft.stream.StreamingSax.letterOf(x, n, sx, sig) }
    val runs = letters.foldLeft(List.empty[(String, Long)]) {
      case ((l, c) :: t, x) if l == x => (l, c + 1L) :: t
      case (acc, x) => (x, 1L) :: acc
    }.reverse.zipWithIndex.map { case ((l, c), i) => (i + 1L, l, c) }.toSet
    assert(rle === runs, s"stream $rle vs batch $runs")
    // the spanning run really grew across the restart: 30-run length 3
    assert(rle.exists { case (_, l, c) => c == 3L && l > "b" })
  }

  test("streaming AMS F2 sketch equals the batch sketch across batches and a restart") {
    import spark.implicits._
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingAms.monitor(
      spark.readStream.schema("_1 LONG, _2 LONG").json(src).as[(Long, Long)])
      .toDF("key", "n_rows", "f2_est")
    // key 0 spans both waves (mergeable sums must fold across the
    // restart); key 1 is wave-2-only; repeated part ids grow f
    val w1 = Seq((0L, 11L), (0L, 11L), (0L, 7L))
    val w2 = Seq((0L, 11L), (0L, 5L), (1L, 7L), (1L, 7L))
    writeOps(src, "w1.json", w1.map { case (k, p) => s"""{"_1":$k,"_2":$p}""" })
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", w2.map { case (k, p) => s"""{"_1":$k,"_2":$p}""" })
    drainOnce(mon, ckpt, dest)
    val wK = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    val live = spark.read.parquet(dest)
      .withColumn("mx", max(col("n_rows")).over(wK))
      .filter(col("n_rows") === col("mx"))
      .select(col("key"), col("n_rows"), col("f2_est"))
      .as[(Long, Long, Long)].collect().toSet
    // batch twin: the q298 SQL-side sketch over the same rows — the
    // stream's scalar md5 sign must agree with the Column form
    val skCols = (0 until 9).map { t =>
      sum(lit(1L) - lit(2L) * expr(s"(h DIV ${1L << t}) % 2")).as(s"sk$t") }
    val batch = (w1 ++ w2).toDF("key", "p")
      .withColumn("h", graft.text.TextStats.portableHash64(
        concat(lit("ams:"), col("p").cast("string"))))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_rows"), skCols: _*)
      .selectExpr("key", "n_rows",
        s"""element_at(array_sort(array(${(0 until 9).map(t =>
          s"sk$t * sk$t").mkString(", ")})), 5) AS f2_est""")
      .as[(Long, Long, Long)].collect().toSet
    assert(live === batch)
    // and the sketch really estimates F2 on this fixture: key 0 has
    // f = (3, 1) -> F2 = 10; key 1 has f = (2) -> F2 = 4
    assert(live.exists(_._1 == 0L) && live.exists(_._1 == 1L))
  }

  test("streaming TWAP credits the hold that spans a checkpoint restart") {
    import spark.implicits._
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingTwap.twap(
      spark.readStream.schema("k STRING, tm LONG, seq LONG, v LONG").json(src)
        .as[(String, Long, Long, Long)])
      .toDF("k", "n_held", "twap_micros", "mean_micros")
    // q280's hand fixture split so the 30 s hold of v=30 CROSSES the
    // restart: v=10 held 10 s (wave 1), v=30 held 30 s (closes in
    // wave 2) → twap (10·10 + 30·30)/40 = 25.0, mean 20.0 — reachable
    // only if wave 1's open position survived the checkpoint
    writeOps(src, "w1.json", Seq(
      """{"k":"tick","tm":0,"seq":1,"v":10000000}""",
      """{"k":"tick","tm":10000000,"seq":2,"v":30000000}"""))
    drainOnce(mon, ckpt, dest)
    writeOps(src, "w2.json", Seq(
      """{"k":"tick","tm":40000000,"seq":3,"v":50000000}"""))
    drainOnce(mon, ckpt, dest)
    val last = spark.read.parquet(dest).as[(String, Long, Long, Long)]
      .collect().maxBy(_._2)
    assert(last === (("tick", 2L, 25000000L, 20000000L)))
  }

  test("streaming block maxima floors a day split across a restart exactly once") {
    import spark.implicits._
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingBlockMax.maintain(
      spark.readStream.schema("_1 LONG, _2 LONG, _3 LONG").json(src)
        .as[(Long, Long, Long)])
      .toDF("ym", "n_days", "x")
    // wave 1: month 1 has day 10 at 150000 cents (floors to 1) and
    // day 11 at 80000 (floors to 0) -> block max 1
    writeOps(src, "w1.json", Seq(
      """{"_1":1,"_2":10,"_3":150000}""",
      """{"_1":1,"_2":11,"_3":80000}"""))
    drainOnce(mon, ckpt, dest)
    // wave 2 (fresh query from the checkpoint): day 10 gains 60000 more
    // -> running total 210000 floors to 2 ONLY IF wave 1's cent sum
    // survived the restart unfloored; month 2 opens at 999999 -> 9
    writeOps(src, "w2.json", Seq(
      """{"_1":1,"_2":10,"_3":60000}""",
      """{"_1":2,"_2":40,"_3":999999}"""))
    drainOnce(mon, ckpt, dest)
    val rows = spark.read.parquet(dest).as[(Long, Long, Long)].collect().toSet
    assert(rows === Set((1L, 2L, 1L), (1L, 2L, 2L), (2L, 1L, 9L)))
  }

  test("streaming runs counter: a sign flip across the restart counts exactly once") {
    import spark.implicits._
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingRuns.maintain(
      spark.readStream.schema("_1 LONG, _2 LONG, _3 LONG").json(src)
        .as[(Long, Long, Long)])
      .toDF("key", "n", "n_above", "runs")
    // wave 1: signs 1,0,1 → 3 runs, 2 above
    writeOps(src, "w1.json", Seq(
      """{"_1":1,"_2":1,"_3":1}""", """{"_1":1,"_2":2,"_3":0}""",
      """{"_1":1,"_2":3,"_3":1}"""))
    drainOnce(mon, ckpt, dest)
    // wave 2 (fresh query from checkpoint): seq 4 repeats sign 1 — a
    // run continues ONLY if the last sign survived the restart — then
    // seq 5 flips to 0 → 4 runs total
    writeOps(src, "w2.json", Seq(
      """{"_1":1,"_2":4,"_3":1}""", """{"_1":1,"_2":5,"_3":0}"""))
    drainOnce(mon, ckpt, dest)
    val rows = spark.read.parquet(dest).as[(Long, Long, Long, Long)]
      .collect().toSet
    assert(rows === Set((1L, 3L, 2L, 3L), (1L, 5L, 3L, 4L)))
    // batch parity: the same fold over the full sequence
    val batch = Seq(1L, 0L, 1L, 1L, 0L)
      .foldLeft((0L, -1L, 0L, 0L)) { case ((n, last, runs, a), s) =>
        (n + 1, s, runs + (if (n == 0 || s != last) 1L else 0L),
          a + (if (s == 1L) 1L else 0L))
      }
    assert((batch._1, batch._4, batch._3) === ((5L, 3L, 4L)))
  }

  test("streaming VMR merges bucket moments across a restart order-free") {
    import spark.implicits._
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingVmr.maintain(
      spark.readStream.schema("_1 LONG, _2 LONG, _3 LONG").json(src)
        .as[(Long, Long, Long)])
      .toDF("key", "n", "s1", "vmr_ppm", "chi2_micros")
    // wave 1: counts [3, 1] → n=2, s1=4, num = 2·10 − 16 = 4 →
    // vmr = 1e6·4/(1·4) = 1e6 (the q336 hand case)
    writeOps(src, "w1.json", Seq(
      """{"_1":1,"_2":1,"_3":3}""", """{"_1":1,"_2":2,"_3":1}"""))
    drainOnce(mon, ckpt, dest)
    // wave 2: two more buckets [1, 3] → n=4, s1=8, s2=20, num =
    // 4·20 − 64 = 16 → vmr = 1e6·16/(3·8) = 666666; reachable only if
    // wave 1's sums survived the checkpoint
    writeOps(src, "w2.json", Seq(
      """{"_1":1,"_2":3,"_3":1}""", """{"_1":1,"_2":4,"_3":3}"""))
    drainOnce(mon, ckpt, dest)
    val rows = spark.read.parquet(dest)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(rows === Set((1L, 2L, 4L, 1000000L, 1000000L),
      (1L, 4L, 8L, 666666L, 2000000L)))
  }

  test("streaming KMV keeps the k-min set across a restart, order-free") {
    import spark.implicits._
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingKmv.maintain(
      spark.readStream.schema("_1 LONG, _2 LONG, _3 LONG").json(src)
        .as[(Long, Long, Long)], k = 2)
      .toDF("key", "n_in", "h_k", "est")
    // wave 1: hashes 100, 200 → set {100,200}, est = 1·2^60 // 200
    writeOps(src, "w1.json", Seq(
      """{"_1":1,"_2":1,"_3":100}""", """{"_1":1,"_2":2,"_3":200}"""))
    drainOnce(mon, ckpt, dest)
    // wave 2: 50 enters (evicting 200 — only possible if the wave-1
    // set survived the checkpoint), a duplicate 50 is ignored
    writeOps(src, "w2.json", Seq(
      """{"_1":1,"_2":3,"_3":50}""", """{"_1":1,"_2":4,"_3":50}"""))
    drainOnce(mon, ckpt, dest)
    val rows = spark.read.parquet(dest).as[(Long, Long, Long, Long)]
      .collect().toSet
    val reg = BigInt("1152921504606846976")
    assert(rows === Set(
      (1L, 2L, 200L, (reg / 200).toLong),
      (1L, 2L, 100L, (reg / 100).toLong)))
  }

  test("streaming KMV estimate is bit-equal to the batch kmvDistinct sketch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vals = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val batch = graft.analytics.InferOps.kmvDistinct(
      vals.map(v => ("g", v)).toDF("src", "w"), grp = "src",
      valueCol = col("w"), k = 2).collect().head
    // feed the SAME portable hashes (one duplicated — set semantics)
    val hs = (vals :+ "alpha").toDF("w")
      .select(graft.text.TextStats.portableHash64(col("w")).as("h"))
      .as[Long].collect()
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingKmv.maintain(
      spark.readStream.schema("_1 LONG, _2 LONG, _3 LONG").json(src)
        .as[(Long, Long, Long)], k = 2)
      .toDF("key", "n_in", "h_k", "est")
    writeOps(src, "w1.json", hs.zipWithIndex.map { case (h, i) =>
      s"""{"_1":1,"_2":${i + 1},"_3":$h}""" })
    drainOnce(mon, ckpt, dest)
    val stream = spark.read.parquet(dest).as[(Long, Long, Long, Long)]
      .collect().head
    assert(stream._4 === batch.getAs[Long]("est"))
    assert(batch.getAs[Long]("n_exact") === 5L)
  }

  test("streaming hour profile is bit-equal to the batch q353 fit across a restart") {
    import spark.implicits._
    val src = tmp(); val ckpt = tmp() + "/ck"; val dest = tmp() + "/out"
    def mon = graft.stream.StreamingHourProfile.maintain(
      spark.readStream.schema("_1 LONG, _2 LONG, _3 LONG").json(src)
        .as[(Long, Long, Long)])
      .toDF("key", "n_events", "peak_h", "peak_p", "amp_r", "strength_r")
    writeOps(src, "w1.json", Seq(
      """{"_1":1,"_2":1,"_3":0}""", """{"_1":1,"_2":2,"_3":0}""",
      """{"_1":1,"_2":3,"_3":1}"""))
    drainOnce(mon, ckpt, dest)
    // wave 2 lands hour 12 — the final profile (2,1,0…,1@12,…) is only
    // reachable if wave 1's slots survived the checkpoint
    writeOps(src, "w2.json", Seq("""{"_1":1,"_2":4,"_3":12}"""))
    drainOnce(mon, ckpt, dest)
    val fin = spark.read.parquet(dest)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .filter(_._2 == 4L).head
    // batch twin target: q353 over an events fixture with the same
    // hour multiset
    val bdir = java.nio.file.Files.createTempDirectory("hp_fix").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:30:00")),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00")),
      (4L, java.sql.Timestamp.valueOf("2024-01-03 12:15:00")))
      .map { case (id, ts) => (id, ts, 1L, "click", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$bdir/events.parquet")
    val b = SparkEntry.queries("q353_harmonic_profile")(spark, bdir)
      .collect().head
    assert((fin._2, fin._3, fin._4) ===
      ((b.getAs[Long]("n_events"), b.getAs[Long]("peak_h"),
        b.getAs[Long]("peak_p"))))
    assert(fin._5 === b.getAs[Double]("amp_r"))
    assert(fin._6 === b.getAs[Double]("strength_r"))
  }

  test("contract: new stateful twins route through StatefulTwin unless in a documented exempt family") {
    // VERDICT r9 ask #7. StatefulTwin's scaladoc names the two families
    // that intentionally keep their own flatMapGroupsWithState frames:
    //  - bucket family (first-seen / member-pair emission against a
    //    live set doesn't fit a left-fold): StatefulDedup,
    //    StreamingNearDup, StreamingMediaNearDup;
    //  - buffer-merge family (decrement-all / top-n merge over a live
    //    structure): StreamingHeavyHitters, StreamingPrioritySample.
    // A 15th twin that hand-rolls the frame must either use StatefulTwin
    // or add itself HERE with a one-line family justification — this
    // test fails on any undocumented call site.
    val exempt = Map(
      "StatefulTwin.scala" -> "the shared frame itself",
      "StatefulDedup.scala" -> "bucket family: first-seen emission against a live key set",
      "StreamingNearDup.scala" -> "bucket family: pair emission against a live band bucket",
      "StreamingMediaNearDup.scala" -> "bucket family: pair emission against a live band bucket",
      "StreamingHeavyHitters.scala" -> "buffer-merge family: Misra-Gries decrement-all over a live map",
      "StreamingPrioritySample.scala" -> "buffer-merge family: per-bucket top-n buffer merge")
    val dir = new java.io.File("src/main/scala/graft/stream")
    assert(dir.isDirectory, s"stream source dir not found at ${dir.getAbsolutePath}")
    val callSite = """\.\s*(flatMapGroupsWithState|mapGroupsWithState)\s*[\[(]""".r
    val offenders = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
      .filterNot(f => exempt.contains(f.getName)).flatMap { f =>
        // decode as UTF-8 explicitly — sources contain non-ASCII scaladoc
        // and Source.fromFile's platform default charset can throw
        val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8).linesIterator.toVector
        lines.zipWithIndex.collect {
          case (l, i) if callSite.findFirstIn(l).isDefined &&
            !l.trim.startsWith("*") && !l.trim.startsWith("//") =>
            s"${f.getName}:${i + 1}: ${l.trim}"
        }
      }
    assert(offenders.isEmpty,
      s"""hand-rolled (flat)mapGroupsWithState outside the documented exempt
         |families — route the twin through StatefulTwin.perRow/perBatch, or
         |add the file to this test's exempt map with its family justification:
         |${offenders.mkString("\n")}""".stripMargin)
    // the exemptions themselves must stay live — a renamed/deleted file
    // would leave a stale entry silently widening the allowlist
    val stale = exempt.keys.filterNot(n => new java.io.File(dir, n).isFile)
    assert(stale.isEmpty, s"stale exempt entries (file gone): ${stale.mkString(", ")}")
  }
}
