package graft

import org.apache.spark.sql.functions._
import graft.analytics.Quantiles

/** Two-phase rank-selection quantiles must agree with Spark's exact
  * `percentile` (an independent implementation of quantile_cont) on
  * every group shape: odd/even counts, ties, constant groups,
  * singletons.
  */
class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  private val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)

  private def check(rows: Seq[(String, Double)]): Unit = {
    val df = rows.toDF("g", "x")
    val got = Quantiles.exactQuantiles(df, ps)
      .select(col("g"), col("p"), col("q_r"))
      .as[(String, Double, Double)].collect()
      .map { case (g, p, q) => (g, p) -> q }.toMap
    val want = df.groupBy(col("g"))
      .agg(expr(s"percentile(x, array(${ps.mkString(",")}))").as("q"))
      .select(col("g"), posexplode(col("q")))
      .as[(String, Int, Double)].collect()
      .map { case (g, i, q) => (g, ps(i)) -> BigDecimal(q).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble }.toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) =>
      assert(v === want(k), s"quantile mismatch at $k: got $v want ${want(k)}")
    }
  }

  test("matches percentile() on mixed odd/even groups with ties") {
    check(Seq.tabulate(101)(i => ("odd", (i * 37 % 50).toDouble)) ++
      Seq.tabulate(100)(i => ("even", (i * 13 % 30).toDouble)))
  }

  test("matches percentile() on constant and singleton groups") {
    check(Seq.fill(7)(("const", 42.0)) :+ (("single", 3.14)))
  }

  test("matches percentile() on negative and wide-range values") {
    check(Seq.tabulate(64)(i => ("w", math.sin(i * 3 + 1) * math.pow(10, i % 6) - 500)))
  }

  test("null measures are ignored (quantile_cont semantics), not counted as phantom ranks") {
    // [1,2,3,null]: n must be 3, so p=0.5 → 2.0. Counting the null
    // (the pre-fix behavior) computes ranks against n=4 → 2.5.
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)), ("a", None))
      .toDF("g", "x")
    val got = Quantiles.exactQuantiles(df, Seq(0.5))
      .select(col("q_r")).as[Double].collect()
    assert(got.toSeq === Seq(2.0))
  }

  test("only bucket-resolution state crosses the plan: no corpus-sized window partition") {
    val df = Seq.tabulate(500)(i => ("a", i.toDouble)).toDF("g", "x")
    val p = Quantiles.exactQuantiles(df, Seq(0.5))
      .queryExecution.executedPlan.toString
    // the distinct-value window must run AFTER the candidate-bucket
    // semi-join (partition keys g AND b), never over (g) alone on the
    // full value table
    assert(p.contains("windowspecdefinition(g#") || p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Neyman sample: budget lands exactly, boundaries realize the " +
    "allocation, the HT estimate tracks the truth") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q271_neyman_sample")(spark, dir).collect()
    val strata = rows.filter(r => !r.getAs[String]("stratum").startsWith("zz_"))
    // largest-remainder rounding exhausts the budget exactly, and the
    // pairRankSelectBy boundary yields EXACTLY n_alloc rows per stratum
    assert(strata.map(_.getAs[Long]("n_alloc")).sum === 1000L)
    assert(strata.forall(r =>
      r.getAs[Long]("n_got") === r.getAs[Long]("n_alloc")))
    val zz = rows.find(_.getAs[String]("stratum") == "zz_ht").get
    assert(zz.getAs[Long]("n_got") === 1000L)
    // 1000 of 1500 rows sampled: the stratified HT total must sit very
    // close to the truth (deterministic; generous 10% band)
    assert(zz.getAs[Long]("w_sigma") < 100000L,
      s"HT err ppm ${zz.getAs[Long]("w_sigma")}")
  }
}
