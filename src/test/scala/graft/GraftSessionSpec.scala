package graft

import java.net.URI
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.util.SerializableConfiguration

/** The suite runs on a [[GraftSession]] session, and nothing else in
  * the tree configures one: a second builder chain is how settings
  * drift apart between the mains, the benchmark and the tests. Local
  * `file:` paths resolve to the engine's filesystem classes, on the
  * driver and in tasks, and a sync replay starts no process.
  */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  test("contract: only GraftSession.scala builds a session under src/main and src/test") {
    val roots = Seq("src/main/scala", "src/test/scala").map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"source dir not found at ${r.getAbsolutePath}"))
    val builder = """SparkSession\s*\.\s*builder""".r
    def sources(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) sources(f) else Seq(f))
    val scanned = roots.flatMap(sources)
      .filter(f => f.getName.endsWith(".scala") && f.getName != "GraftSession.scala")
    val offenders = scanned.flatMap { f =>
      new String(Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.zipWithIndex.collect {
          case (l, i) if builder.findFirstIn(l).isDefined &&
            !l.trim.startsWith("*") && !l.trim.startsWith("//") && !l.trim.startsWith("/**") =>
            s"${f.getPath}:${i + 1}: ${l.trim}"
        }
    }
    assert(offenders.isEmpty,
      s"session built outside GraftSession — call GraftSession.builder(master, cores):\n" +
        offenders.mkString("\n"))
  }

  test("the suite session carries the factory's configuration") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode").equalsIgnoreCase("static"))
    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(hadoop.get("fs.file.impl") === classOf[sources.NioLocalFileSystem].getName)
    assert(hadoop.get("fs.AbstractFileSystem.file.impl") === classOf[sources.NioLocalFs].getName)
  }

  // FileSystem.CACHE is keyed by scheme and user, not by configuration:
  // a `file:` filesystem cached before the session would keep Hadoop's
  // class whatever the session sets
  test("file: resolves to the engine's FileSystem and AbstractFileSystem, on the driver and in a task") {
    val local = URI.create("file:///")
    val expected = (classOf[sources.NioLocalFileSystem].getName, classOf[sources.NioLocalFs].getName)
    val conf = spark.sessionState.newHadoopConf()
    // a function value, not a method, so the task closure can carry it
    val classes = (c: org.apache.hadoop.conf.Configuration) =>
      (FileSystem.get(local, c).getClass.getName,
        FileContext.getFileContext(local, c).getDefaultFileSystem.getClass.getName)
    assert(classes(conf) === expected)
    val shipped = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val inTask = spark.sparkContext.parallelize(Seq(0), 1).map(_ => classes(shipped.value.value)).collect().head
    assert(inTask === expected)
  }

  /** Two op files of a few comments and votes, one micro-batch each. */
  private def twoOpFiles(): Path = {
    val dir = Files.createTempDirectory("session-ops")
    def op(block: Int, ts: String, tpe: String, payload: String): String = {
      val quoted = payload.replace("\"", "\\\"")
      s"""{"block_num":$block,"timestamp":"$ts","op_type":"$tpe","payload":"$quoted"}"""
    }
    def post(author: String, permlink: String): String =
      s"""{"author":"$author","permlink":"$permlink","parent_author":"","parent_permlink":"general",""" +
        """"title":"t","body":"b #tag","json_metadata":"{}"}"""
    def vote(voter: String, author: String, permlink: String): String =
      s"""{"voter":"$voter","author":"$author","permlink":"$permlink","weight":100}"""
    Seq(
      Seq(op(1, "2024-01-05T00:00:00", "comment", post("alice", "p1")),
        op(1, "2024-01-05T00:01:00", "vote", vote("bob", "alice", "p1"))),
      Seq(op(2, "2024-02-01T00:00:00", "comment", post("bob", "p2")),
        op(2, "2024-02-01T00:01:00", "vote", vote("alice", "bob", "p2")))
    ).zipWithIndex.foreach { case (lines, i) =>
      val f = Files.write(dir.resolve(s"ops-$i.json"), lines.mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(f, FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    dir
  }

  test("a Sync.start replay and a partitioned write start no process") {
    val ops = twoOpFiles()
    val state = Files.createTempDirectory("session-state").resolve("state").toString
    val ckpt = Files.createTempDirectory("session-ckpt").toString
    val table = Files.createTempDirectory("session-write").resolve("t").toString
    // once per JVM, when their classes load, Hadoop's Shell probes for
    // setsid and the executor heartbeat's metrics getter for the page size
    Seq("org.apache.hadoop.util.Shell", "org.apache.spark.executor.ProcfsMetricsGetter$")
      .foreach(Class.forName)
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    try {
      stream.Sync.start(spark, ops.toString, ckpt, state, Trigger.AvailableNow(), maxFilesPerTrigger = 1)
        .awaitTermination()
      pipeline.Merge.writePartitioned(spark.read.parquet(s"$state/posts"), table)
    } finally recording.stop()
    val dump = Files.createTempDirectory("session-jfr").resolve("process.jfr")
    recording.dump(dump)
    recording.close()
    val starts = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    assert(starts.isEmpty, starts.take(3).map { e =>
      e.getString("command") + Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.take(12))
        .map(f => s"\n  at ${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString
    }.mkString(s"${starts.size} processes started, e.g.:\n", "\n", ""))
    assert(spark.read.parquet(s"$state/vote_sets").count() === 2)
  }

  test("a plain partitioned overwrite replaces the table; Merge.writePartitioned only its partitions") {
    def rows(path: String): Set[(Int, String)] =
      spark.read.parquet(path).select(col("p"), col("v")).as[(Int, String)].collect().toSet
    val seed = Seq((1, "a"), (2, "b")).toDF("p", "v")
    val batch = Seq((2, "c")).toDF("p", "v")

    val plain = Files.createTempDirectory("session_plain").resolve("t").toString
    seed.write.mode("overwrite").partitionBy("p").parquet(plain)
    batch.write.mode("overwrite").partitionBy("p").parquet(plain)
    assert(rows(plain) === Set((2, "c")))

    val merged = Files.createTempDirectory("session_merge").resolve("t").toString
    seed.write.mode("overwrite").partitionBy("p").parquet(merged)
    pipeline.Merge.writePartitioned(batch, merged, Seq("p"))
    assert(rows(merged) === Set((1, "a"), (2, "c")))
  }
}
