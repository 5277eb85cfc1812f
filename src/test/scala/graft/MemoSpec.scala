package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.analytics.GraphOps
import graft.model.Tables

class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String = Files.createTempDirectory(prefix).toString
  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("concurrent first callers of one key share a single derivation") {
    val dir = freshDir("memo_race")
    val n = 8
    val calls = new AtomicInteger
    val release = new CountDownLatch(1)
    val results = new ConcurrentLinkedQueue[AnyRef]
    val threads = (1 to n).map(_ => new Thread(() => results.add(
      Memo.value("race", dir, Nil) { calls.incrementAndGet(); release.await(); new Object }
    )))
    threads.foreach(_.start())
    // hold the latch until every caller is parked: the one deriving on the
    // latch, the others on its flight (or, without single flight, all of
    // them on the latch inside their own derivation)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!threads.forall(_.getState == Thread.State.WAITING) && System.nanoTime() < deadline)
      Thread.sleep(5)
    release.countDown()
    threads.foreach(_.join(30000))
    assert(calls.get === 1)
    assert(Memo.derivations("race", dir) === 1)
    assert(results.size === n && results.asScala.toSet.size === 1,
      "every caller must get the one derived object")
  }

  test("a derivation that throws leaves no entry, so the next call derives again") {
    val dir = freshDir("memo_fail")
    val ex = intercept[IllegalStateException](
      Memo.value("fail", dir, Nil)(throw new IllegalStateException("boom")))
    assert(ex.getMessage === "boom")
    assert(Memo.value("fail", dir, Nil)(42) === 42)
    assert(Memo.value("fail", dir, Nil)(sys.error("must hit the entry"): Int) === 42)
    assert(Memo.derivations("fail", dir) === 2)
  }

  test("all kinds share one LRU bound") {
    val dir = freshDir("memo_lru")
    val first = Memo.value("lru", dir, Nil, 0)(new Object)
    (1 to Memo.Capacity).foreach(i => Memo.value("lru", dir, Nil, i)(new Object))
    assert(Memo.size === Memo.Capacity)
    // the least recently used key was displaced, so it derives again
    assert(Memo.value("lru", dir, Nil, 0)(new Object) ne first)
    assert(Memo.derivations("lru", dir) === Memo.Capacity + 2)
  }

  test("an edge memo re-derives after its input table is rewritten") {
    val dir = freshDir("memo_stale")
    def writeLineitem(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def edges: Set[(Long, Long)] =
      GraphOps.edgeTableMemo(spark, dir)(GraphOps.partCoPurchaseEdges(Tables(spark, dir).lineitem))
        .as[(Long, Long)].collect().toSet
    writeLineitem(Seq((1L, 1L), (1L, 2L)))
    assert(edges === Set((1L, 2L)))
    assert(edges === Set((1L, 2L)))
    writeLineitem(Seq((1L, 3L), (1L, 4L), (2L, 4L), (2L, 5L)))
    assert(edges === Set((3L, 4L), (4L, 5L)), "a rewritten lineitem must not serve stale edges")
    assert(Memo.derivations("edges", dir) === 2)
  }

  test("a failed spill derivation leaves nothing behind") {
    val root = new Path(freshDir("memo_spill_fail"))
    val failing = spark.range(0, 100, 1, 4).selectExpr("id", "assert_true(id < 50) AS ok")
    intercept[Exception](Memo.spill(spark, new Path(root, "edges_full_1"))(failing))
    assert(fs.listStatus(root).isEmpty, fs.listStatus(root).map(_.getPath).mkString(", "))
  }

  test("a failed repack deletes its partial target") {
    val root = new Path(freshDir("memo_repack_fail"))
    val p = new Path(root, "edges_full_1")
    // more files than the byte rule wants, so the repack rewrite runs
    spark.range(0, 1000, 1, 8).toDF("id").write.parquet(p.toString)
    // corrupt the last part file so the rewrite's scan fails mid-job
    val victim = fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith("part-"))
      .maxBy(_.getName)
    Files.write(java.nio.file.Paths.get(victim.toUri), "not parquet".getBytes)
    intercept[Exception](Memo.repack(spark, p))
    assert(!fs.exists(new Path(root, "edges_full_1_rs")))
  }

  test("every distinct spill root is registered for exit-time cleanup") {
    val conf = spark.sparkContext.hadoopConfiguration
    val a = Memo.spillRoot(freshDir("memo_wh_a"), conf)
    val b = Memo.spillRoot(freshDir("memo_wh_b"), conf)
    assert(a !== b)
    assert(Memo.spillRoots.contains(a) && Memo.spillRoots.contains(b))
    assert(Memo.spillRoot(a.getParent.getParent.toString, conf) === a)
  }

  test("contract: only Memo.scala holds a memo store under src/main") {
    // Each exempt line is a map that is not a memo: it is keyed by
    // something other than a derivation's inputs and never serves a
    // cached result. Keyed by file and the line's text, so a new map in
    // an exempt file still fails.
    val exempt = Map(
      ("Bench.scala", "val detail = scala.collection.mutable.LinkedHashMap.empty[String, List[Run]]")
        -> "per-query run records in suite order",
      ("Bench.scala", "val samples = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]")
        -> "per-query timing samples in suite order",
      ("StreamingHeavyHitters.scala", "val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]")
        -> "Misra-Gries counters of one state value")
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"source dir not found at ${root.getAbsolutePath}")
    val store = """TrieMap|getOrElseUpdate|LinkedHashMap""".r
    def sources(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) sources(f) else Seq(f))
    val scanned = sources(root).filter(f => f.getName.endsWith(".scala") && f.getName != "Memo.scala")
    val hits = scanned.flatMap { f =>
      new String(Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.zipWithIndex.collect {
          case (l, i) if store.findFirstIn(l).isDefined &&
            !l.trim.startsWith("*") && !l.trim.startsWith("//") && !l.trim.startsWith("/**") =>
            (f.getName, l.trim, i + 1)
        }
    }
    val offenders = hits.filterNot { case (f, l, _) => exempt.contains((f, l)) }
    assert(offenders.isEmpty,
      s"""memo store outside graft.Memo — derive through Memo.value/Memo.spilled,
         |or add the line to this test's exempt map with why it is not a memo:
         |${offenders.map { case (f, l, i) => s"$f:$i: $l" }.mkString("\n")}""".stripMargin)
    val stale = exempt.keySet -- hits.map { case (f, l, _) => (f, l) }
    assert(stale.isEmpty, s"stale exempt entries (line gone): ${stale.mkString(", ")}")
  }
}
