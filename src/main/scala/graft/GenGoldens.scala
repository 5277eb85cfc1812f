package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, sum}

/** Dev-loop main: regenerates GoldenPinnedSpec's golden row-hash file
  * for the pinned variants ([[SparkEntry.goldenPinned]]) at sf0.001.
  *
  * Run ONLY when a pinned member's semantics intentionally change, and
  * re-prove oracle parity first (graft.Verify +
  * tools/check_oracle.py at sf0.01 and sf0.1) — the golden is a
  * regression pin, not a source of truth.
  */
object GenGoldens {

  /** Order-insensitive content fingerprint: row count + the
    * DECIMAL(38,0) sum of xxhash64 over each row's to_json(struct(*))
    * rendering (a Long accumulator would hit ANSI overflow within a
    * handful of rows). The spec recomputes through this SAME method, so
    * any engine-version or serialization drift shows on both sides of
    * the comparison.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.selectExpr(
        "CAST(xxhash64(to_json(struct(*))) AS DECIMAL(38,0)) AS h")
      .agg(count(lit(1)).as("n"), sum("h").as("s")).collect()(0)
    (r.getAs[Long]("n"),
      if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1)
      .getOrElse("/root/repo/src/test/resources/demoted_goldens.txt")
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val lines = SparkEntry.goldenPinned.toSeq.sorted.map { name =>
      val (n, h) = fingerprint(SparkEntry.queries(name)(spark, sfDir))
      println(s"[goldens] $name n=$n h=$h")
      s"$name $n $h"
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.write(Paths.get(out),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
