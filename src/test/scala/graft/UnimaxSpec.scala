package graft

import org.apache.spark.sql.functions._
import graft.analytics.Sampling

/** UniMax waterfilling quotas + exact hash-order selection. */
class UnimaxSpec extends SparkSpec {
  import spark.implicits._

  test("waterfill redistributes surplus from capped low-resource languages") {
    val q = Sampling.waterfillQuotas(Seq(("b", 100L), ("a", 5L)), 50L).toMap
    assert(q === Map("a" -> 5L, "b" -> 45L))
  }

  test("waterfill saturates at total capacity and handles zero budget") {
    assert(Sampling.waterfillQuotas(Seq(("a", 3L), ("b", 4L)), 100L).toMap
      === Map("a" -> 3L, "b" -> 4L))
    assert(Sampling.waterfillQuotas(Seq(("a", 3L), ("b", 4L)), 0L).toMap
      === Map("a" -> 0L, "b" -> 0L))
  }

  test("equal capacities split a non-divisible budget deterministically by name") {
    // share floors: first (by name) gets 3, remainder flows to the next
    val q = Sampling.waterfillQuotas(Seq(("y", 10L), ("x", 10L)), 7L).toMap
    assert(q === Map("x" -> 3L, "y" -> 4L))
    assert(q.values.sum === 7L)
  }

  test("unimaxSelect hits exact quotas and samples null-language rows as a stratum") {
    val docs = ((0 until 40).map(i => (i.toLong, "en")) ++
      (100 until 110).map(i => (i.toLong, "fr")) ++
      (200 until 206).map(i => (i.toLong, null: String)))
      .toDF("doc_id", "lang")
    val out = Sampling.unimaxSelect(docs, budget = 30L)
    val byLang = out.groupBy(coalesce(col("lang"), lit("<null>")).as("l"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    // caps: null=6, fr=10, en=40; budget 30: share 10 -> null capped 6,
    // rem 24 over 2: fr 10 capped... share 12 -> fr 10, rem 14 -> en 14
    assert(byLang === Map("<null>" -> 6L, "fr" -> 10L, "en" -> 14L))
    val again = Sampling.unimaxSelect(docs, budget = 30L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(again === out.select("doc_id").as[Long].collect().sorted.toSeq)
    // schema contract: a sample is input rows, not input + join internals
    assert(out.columns.toSeq === docs.columns.toSeq)
  }
}
