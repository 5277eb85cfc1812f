package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.sources.Bucketing

/** Co-located join via bucketing: both sides pre-shuffled on the join
  * key at write time ⇒ the join plan has no Exchange.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // a crashed prior run can leave the managed location behind
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists()) rm(loc)
  }

  test("join of same-key bucketed tables plans without a shuffle") {
    dropTable("b_orders"); dropTable("b_lineitem")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 4, Seq("o_orderkey"))
    Bucketing.writeBucketed(lineitem, "b_lineitem", "o_orderkey", 4, Seq("o_orderkey"))

    // force the sort-merge path (at fixture scale the tables would
    // broadcast, which hides the property under test)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.colocatedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
      val agg = joined.groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q"))
      val p = agg.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // neither the join nor the groupBy (same key) needs a shuffle:
      // a shuffle appears as "+- Exchange (n)" in the tree (broadcast
      // exchanges print as BroadcastExchange — not a shuffle)
      val shuffles = p.linesIterator.count(_.matches(""".*[+:]- Exchange \(\d+\).*"""))
      assert(shuffles === 0, s"expected shuffle-free co-located join+agg:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
      assert(joined.count() === lineitem.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("heartbeat listener reports per-batch progress") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val beats = new java.util.concurrent.ConcurrentLinkedQueue[graft.stream.Heartbeat.Beat]()
    val hb = new graft.stream.Heartbeat(beats.add(_))
    spark.streams.addListener(hb)
    try {
      val mem = MemoryStream[Long]
      val q = mem.toDF().writeStream.format("memory").queryName("hb_sink").start()
      mem.addData(1L, 2L, 3L)
      q.processAllAvailable()
      q.stop()
      // listener delivery is async; wait briefly for the progress event
      val deadline = System.currentTimeMillis() + 10000
      while (beats.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(!beats.isEmpty, "expected at least one heartbeat")
      assert(beats.peek().inputRows === 3L)
    } finally spark.streams.removeListener(hb)
  }

  test("generated Hilbert expression is a Hilbert curve: grid bijection + unit adjacency") {
    // evaluates the SHIPPED q314 SQL strings over the full 16x16 grid —
    // any wrong reflect/swap at any level breaks one of the two
    // defining properties asserted here
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("hx0", "hy0").selectExpr("hx0", "hy0", "CAST(0 AS BIGINT) AS hd0")
    val d = graft.analytics.ScaleOps.hilbertLevelExprs
      .foldLeft(grid) { case (df, exprs) => df.selectExpr(("*" +: exprs): _*) }
      .selectExpr("hx0 AS x", "hy0 AS y", "hd4 AS d")
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1))).toMap
    assert(d.keySet === (0L until 256L).toSet, "bijection onto 0..255")
    val steps = (0L until 255L).map { i =>
      val (x1, y1) = d(i); val (x2, y2) = d(i + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }
    assert(steps.forall(_ === 1L), "consecutive Hilbert indexes are unit grid steps")
  }
}
