package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** The suite runs on a [[GraftSession]] session, and nothing else in
  * the tree configures one: a second builder chain is how settings
  * drift apart between the mains, the benchmark and the tests.
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
