package graft

/** Cluster-mode smoke for the edge-table memo (VERDICT r13 ask #1):
  * runs [[analytics.GraphOps.edgeTableMemo]] under a
  * `local-cluster[2,1,1024]` master — executors are SEPARATE JVMs, not
  * the driver — so the derive-write and the memo re-read both cross a
  * process boundary. The r13 spill under `java.nio` temp happened to
  * work single-host too, but only the warehouse-dir spill generalizes
  * to a shared filesystem; this smoke pins the plumbing end to end
  * (derive on executors → spill under `spark.sql.warehouse.dir` →
  * re-read on executors, memo hit on the second call).
  *
  * Run in a FRESH JVM (MemoClusterSpec forks one) with the fixture dir
  * as its argument: the test suites share a single local[4]
  * SparkContext, and a JVM allows only one.
  */
object MemoClusterSmoke {
  /** JDK 17 module opens Spark 4 needs when executors are plain `java`
    * children (spark-submit normally injects these). Shared with
    * MemoClusterSpec's forked driver JVM. */
  val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(sys.error("usage: MemoClusterSmoke <fixture dir>"))
    val execOpens = jdk17AddOpens
      .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
    val spark = GraftSession.builder("local-cluster[2,1,1024]", 2)
      .appName("graft-memo-cluster-smoke")
      .config("spark.executor.memory", "1024m")
      // executors are forked `java` processes: hand them this JVM's
      // classpath (the sbt-forked test/run classpath) and the module
      // opens spark-submit would normally inject
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", execOpens)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val e = analytics.GraphOps.edgeTableMemo(spark, dir, "cluster_smoke")(
        analytics.GraphOps.partCoPurchaseEdges(
          spark.read.parquet(s"$dir/lineitem.parquet")))
      val n = e.count()
      require(n > 0, "memo read back empty through cluster executors")
      val again = analytics.GraphOps.edgeTableMemo(spark, dir, "cluster_smoke")(
        sys.error("second call must hit the memo, not re-derive"))
      require(again.count() == n, "memo re-read disagrees with first read")
      // the spill must live under the Spark-managed warehouse dir, not
      // under the driver's java.io.tmpdir (the r13 local-mode assumption)
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      require(Memo.derivations("edges", dir) == 1, "the edge memo must derive exactly once")
      println(s"MEMO_CLUSTER_SMOKE_OK n=$n warehouse=$wh")
    } finally spark.stop()
  }
}
