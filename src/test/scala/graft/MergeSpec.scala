package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.pipeline.Merge

/** Upsert-merge properties (SURVEY.md §5.3): idempotence (applying a
  * batch twice ≡ once) and row-order invariance — the two properties
  * that make at-least-once delivery exactly-once-effective
  * (reference listener.js:176-184). Property-style over seeded random
  * batches (collision-heavy key/timestamp space to force tie-breaking).
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def randBatch(rng: scala.util.Random): Seq[(Long, Timestamp, String)] =
    Seq.fill(12)((
      rng.nextInt(6).toLong,
      new Timestamp(86400000L * rng.nextInt(4)),
      rng.alphanumeric.take(4).mkString))

  test("upsert is idempotent: merge(merge(s, b), b) == merge(s, b)") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 10) {
      val s = Merge.latestWins(randBatch(rng).toDF("id", "timestamp", "v"),
        Seq("id"), Seq(col("timestamp")))
      val b = randBatch(rng).toDF("id", "timestamp", "v")
      val once  = Merge.upsert(s, b, Seq("id"), "timestamp")
      val twice = Merge.upsert(once, b, Seq("id"), "timestamp")
      assert(once.orderBy("id").collect() === twice.orderBy("id").collect())
    }
  }

  test("latest-wins is invariant under input row order") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 10) {
      val batch = randBatch(rng)
      val a = Merge.latestWins(batch.toDF("id", "timestamp", "v"), Seq("id"), Seq(col("timestamp")))
      val b = Merge.latestWins(batch.reverse.toDF("id", "timestamp", "v"), Seq("id"), Seq(col("timestamp")))
      assert(a.orderBy("id").collect() === b.orderBy("id").collect())
    }
  }

  test("upsert keeps exactly one row per key, newest timestamp") {
    val existing = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "old"))
      .toDF("id", "timestamp", "v")
    val incoming = Seq(
      (1L, Timestamp.valueOf("2024-02-01 00:00:00"), "new"),
      (2L, Timestamp.valueOf("2024-01-15 00:00:00"), "fresh"))
      .toDF("id", "timestamp", "v")
    val out = Merge.upsert(existing, incoming, Seq("id"), "timestamp")
      .orderBy("id").as[(Long, Timestamp, String)].collect()
    assert(out.map(r => (r._1, r._3)) === Array((1L, "new"), (2L, "fresh")))
  }

  test("partition-scoped upsert only rewrites touched (year, month) partitions") {
    val path = java.nio.file.Files.createTempDirectory("graft-merge").toString + "/posts"
    def row(id: Long, ts: String, v: String) = {
      val t = Timestamp.valueOf(ts)
      (id, t, v, t.toLocalDateTime.getYear, t.toLocalDateTime.getMonthValue)
    }
    // batch 1: one January row, one February row
    Merge.upsertPartitioned(
      Seq(row(1L, "2024-01-10 00:00:00", "jan"), row(2L, "2024-02-10 00:00:00", "feb-old"))
        .toDF("id", "timestamp", "v", "year", "month"),
      path, Seq("id"), "timestamp")
    val janFile = new java.io.File(path, "year=2024/month=1")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val janMod = janFile.lastModified()

    // batch 2 touches only February: newer row for id=2 plus id=3
    Merge.upsertPartitioned(
      Seq(row(2L, "2024-02-20 00:00:00", "feb-new"), row(3L, "2024-02-21 00:00:00", "x"))
        .toDF("id", "timestamp", "v", "year", "month"),
      path, Seq("id"), "timestamp")

    val state = spark.read.parquet(path).select("id", "v")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(state === Array((1L, "jan"), (2L, "feb-new"), (3L, "x")))
    // the January partition was not rewritten
    assert(janFile.lastModified() === janMod)
    assert(new java.io.File(path, "year=2024/month=2").exists())
  }

  test("cross-month edit upserts in place: no duplicate key, row stays in creation partition") {
    // reference routes edits by the post's creation time (comments.js:141,170):
    // a January post edited in March must overwrite the January row, not
    // write a second copy into a March partition.
    val path = java.nio.file.Files.createTempDirectory("graft-merge-xmonth").toString + "/posts"
    def row(id: Long, ts: String, v: String) = {
      val t = Timestamp.valueOf(ts)
      (id, t, v, t.toLocalDateTime.getYear, t.toLocalDateTime.getMonthValue)
    }
    Merge.upsertPartitioned(
      Seq(row(1L, "2024-01-10 00:00:00", "created"), row(2L, "2024-03-05 00:00:00", "other"))
        .toDF("id", "timestamp", "v", "year", "month"),
      path, Seq("id"), "timestamp")
    // id=1 edited in March — batch carries March routing columns
    Merge.upsertPartitioned(
      Seq(row(1L, "2024-03-15 00:00:00", "edited"))
        .toDF("id", "timestamp", "v", "year", "month"),
      path, Seq("id"), "timestamp")

    val state = spark.read.parquet(path)
      .select("id", "v", "year", "month")
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    // exactly one row per key (the keyed-upsert contract) ...
    assert(state.map(_._1).toSeq === Seq(1L, 2L))
    // ... the edit won, and it lives in the CREATION partition
    assert(state(0) === ((1L, "edited", 2024, 1)))
    // no stale copy in the March partition for id=1
    val march = spark.read.parquet(path).filter(col("month") === 3)
      .select("id").as[Long].collect().toSeq
    assert(march === Seq(2L))
  }

  test("null partition values survive a second upsert (null-safe pruning)") {
    // a null timestamp routes to the default partition (null year/month);
    // the pruning predicate must match it with <=> — a plain === against a
    // null literal is never-true, so the existing null-partition rows would
    // be excluded from the merge while the dynamic overwrite still rewrites
    // that partition: silent permanent deletion
    val path = java.nio.file.Files.createTempDirectory("graft-merge-nullpart").toString + "/posts"
    def row(id: Long, ts: Option[String], v: String) = {
      val t = ts.map(Timestamp.valueOf)
      (id, t.orNull, v,
        t.map(_.toLocalDateTime.getYear.asInstanceOf[Integer]).orNull,
        t.map(_.toLocalDateTime.getMonthValue.asInstanceOf[Integer]).orNull)
    }
    Merge.upsertPartitioned(
      Seq(row(1L, None, "no-ts-1"), row(2L, Some("2024-01-10 00:00:00"), "jan"))
        .toDF("id", "timestamp", "v", "year", "month"),
      path, Seq("id"), "timestamp")
    // second batch lands another null-partition row; id=1 must survive
    Merge.upsertPartitioned(
      Seq(row(3L, None, "no-ts-3"))
        .toDF("id", "timestamp", "v", "year", "month"),
      path, Seq("id"), "timestamp")
    val state = spark.read.parquet(path).select("id", "v")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(state === Seq((1L, "no-ts-1"), (2L, "jan"), (3L, "no-ts-3")))
  }

  test("batch-internal create+edit routes by the creation row's partition") {
    val path = java.nio.file.Files.createTempDirectory("graft-merge-batch").toString + "/posts"
    def row(id: Long, ts: String, v: String) = {
      val t = Timestamp.valueOf(ts)
      (id, t, v, t.toLocalDateTime.getYear, t.toLocalDateTime.getMonthValue)
    }
    // one batch contains both the January create and the February edit
    Merge.upsertPartitioned(
      Seq(row(5L, "2024-01-20 00:00:00", "v1"), row(5L, "2024-02-02 00:00:00", "v2"))
        .toDF("id", "timestamp", "v", "year", "month"),
      path, Seq("id"), "timestamp")
    val state = spark.read.parquet(path)
      .select("id", "v", "year", "month")
      .as[(Long, String, Int, Int)].collect().toSeq
    assert(state === Seq((5L, "v2", 2024, 1)))
  }

  test("a state column missing from incoming survives upsertPartitioned") {
    val path = java.nio.file.Files.createTempDirectory("graft-merge-dropcol").toString + "/posts"
    def ts(s: String) = Timestamp.valueOf(s)
    Merge.upsertPartitioned(
      Seq((1L, ts("2024-01-10 00:00:00"), "a", "kept", 2024, 1),
          (2L, ts("2024-01-11 00:00:00"), "b", "replaced", 2024, 1))
        .toDF("id", "timestamp", "v", "note", "year", "month"),
      path, Seq("id"), "timestamp")
    // the batch lacks `note` and rewrites January, where both rows live
    Merge.upsertPartitioned(
      Seq((2L, ts("2024-01-20 00:00:00"), "b2", 2024, 1))
        .toDF("id", "timestamp", "v", "year", "month"),
      path, Seq("id"), "timestamp")
    val state = spark.read.parquet(path)
    assert(state.columns.contains("note"))
    val rows = state.select("id", "v", "note").as[(Long, String, Option[String])].collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, "a", Some("kept")), (2L, "b2", None)))
  }

  test("a shared key-locate scan wider than the batch rewrites only the batch keys' partitions") {
    val path = java.nio.file.Files.createTempDirectory("graft-merge-located").toString + "/posts"
    def row(id: Long, ts: String, v: String) = {
      val t = Timestamp.valueOf(ts)
      (id, t, v, t.toLocalDateTime.getYear, t.toLocalDateTime.getMonthValue)
    }
    Merge.upsertPartitioned(
      Seq(row(1L, "2024-01-10 00:00:00", "jan"), row(2L, "2024-02-10 00:00:00", "feb"))
        .toDF("id", "timestamp", "v", "year", "month"),
      path, Seq("id"), "timestamp")
    val janFile = new java.io.File(path, "year=2024/month=1")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val janMod = janFile.lastModified()
    // the scan also probes key 1 (say, a vote's post), which lives in January
    val incoming = Seq(row(2L, "2024-03-01 00:00:00", "feb-edit"))
      .toDF("id", "timestamp", "v", "year", "month")
    val located = Merge.locate(spark.read.parquet(path), Seq(1L, 2L).toDF("id"), Seq("id"))
      .transform(Stage.mat)
    assert(located.count() === 2)
    Merge.writePartitioned(Merge.mergePartitioned(incoming, path, Seq("id"), "timestamp",
      stateSchema = Some(spark.read.parquet(path).schema), located = Some(located)), path)
    val state = spark.read.parquet(path).select("id", "v", "month")
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(state === Seq((1L, "jan", 1), (2L, "feb-edit", 2)))
    assert(janFile.exists() && janFile.lastModified() === janMod)
  }

  test("schema evolution: incoming may add columns (unionByName allowMissing)") {
    val existing = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "x"))
      .toDF("id", "timestamp", "v")
    val incoming = Seq((2L, Timestamp.valueOf("2024-01-02 00:00:00"), "y", true))
      .toDF("id", "timestamp", "v", "flag")
    val out = Merge.upsert(existing, incoming, Seq("id"), "timestamp")
    assert(out.columns.toSet === Set("id", "timestamp", "v", "flag"))
    assert(out.count() === 2)
  }
}
