package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.IO
import graft.text.{Similarity, TextStats}

/** Format round-trips plus the remaining text/similarity operators. */
class IOSpec extends SparkSpec {
  import spark.implicits._

  test("csv/json/orc/parquet round-trip preserves schema'd data") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val df = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, "c", 0.0))
      .toDF("id", "name", "score")
    IO.formats.foreach { fmt =>
      val path = java.nio.file.Files.createTempDirectory(s"graft-io-$fmt").toString + "/t"
      IO.write(df, fmt, path)
      val back = IO.read(spark, fmt, path, schema)
        .orderBy("id").as[(Long, String, Double)].collect()
      assert(back === Array((1L, "a", 1.5), (2L, "b", -0.25), (3L, "c", 0.0)),
        s"round-trip failed for $fmt")
    }
  }

  test("cosine near-dup finds a planted duplicate vector pair") {
    val rng = new scala.util.Random(3)
    val base = Seq.fill(16)(rng.nextGaussian().toFloat)
    val jitter = base.map(x => x + 0.01f * rng.nextGaussian().toFloat)
    val vecs = ((0 until 50).map(i => (i.toLong, Seq.fill(16)(rng.nextGaussian().toFloat))) ++
      Seq((100L, base), (101L, jitter))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(vecs, threshold = 0.9, bands = 8, planesPerBand = 2, dim = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.contains((100L, 101L)), s"expected planted pair in ${pairs.mkString(",")}")
  }

  test("winnowing: shared long substring yields shared fingerprints") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, s"intro words $shared trailing ones"),
      (2L, s"totally different prefix $shared and suffix"),
      (3L, "nothing in common with the others at all here")).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
        TextStats.winnowingFingerprints(col("text")).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert((fps(1L).toSet intersect fps(2L).toSet).nonEmpty)
    assert((fps(1L).toSet intersect fps(3L).toSet).isEmpty)
  }

  test("winnowing is deterministic and non-empty on short docs") {
    val fp = Seq((1L, "one two")).toDF("doc_id", "text")
      .select(TextStats.winnowingFingerprints(col("text")).as("f"))
      .as[Seq[Long]].head()
    assert(fp.nonEmpty)
  }

  test("portable winnowing keeps the shared-substring guarantee and short-doc fallback") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, s"intro words $shared trailing ones"),
      (2L, s"totally different prefix $shared and suffix"),
      (3L, "nothing in common with the others at all here")).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
        TextStats.winnowingFingerprintsPortable(col("text")).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert((fps(1L).toSet intersect fps(2L).toSet).nonEmpty)
    assert((fps(1L).toSet intersect fps(3L).toSet).isEmpty)
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
      .select(TextStats.winnowingFingerprintsPortable(col("text")).as("f"))
      .as[Seq[Long]].head()
    assert(short.nonEmpty)
    // every portable hash fits the 60-bit budget (no ANSI overflow ever)
    assert((fps.values.flatten ++ short).forall(h => h >= 0L && h < (1L << 60)))
  }

  test("Stage.mat picks the reliable checkpoint when a checkpoint dir is configured") {
    // local default: executor-local checkpoint (no filesystem round-trip).
    // With a checkpoint dir (the cluster deployment), blocks must land
    // there — localCheckpoint blocks die with their executor AND sever
    // the recompute lineage, so a preempted executor would fail the job.
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Stage.mat(df).count() === 2)
    // the session is JVM-wide; restore the (no-public-unset) checkpoint
    // dir afterwards so later suites keep the zero-config local branch
    val f = classOf[org.apache.spark.SparkContext].getDeclaredField("checkpointDir")
    f.setAccessible(true)
    val prev = f.get(spark.sparkContext)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    try {
      spark.sparkContext.setCheckpointDir(dir)
      val reliable = Stage.mat(df)
      assert(reliable.count() === 2)
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "reliable checkpoint must write to the dir")
    } finally f.set(spark.sparkContext, prev)
  }
}
