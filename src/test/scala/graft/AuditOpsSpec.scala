package graft

import java.sql.Timestamp

/** Hand-computed fixtures for the data-quality audit operators
  * (q169 profile, q170 constraints).
  */
class AuditOpsSpec extends SparkSpec {
  import spark.implicits._

  private def writeOrders(dir: String,
      rows: Seq[(Long, java.lang.Long, String, java.lang.Double, Timestamp, String)]): Unit =
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

  test("profile reports nulls, exact distincts, and typed extrema per column") {
    val dir = java.nio.file.Files.createTempDirectory("profile_fix").toString
    writeOrders(dir, Seq(
      (1L, 10L, "O", 100.5, Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT"),
      (2L, null, "F", 200.25, Timestamp.valueOf("2024-02-01 00:00:00"), "2-HIGH"),
      (2L, 20L, "P", null, null, null)))
    val out = SparkEntry.queries("q169_profile")(spark, dir).collect()
      .map(r => r.getAs[String]("col_name") -> (r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_null"), r.getAs[Long]("n_distinct"),
        Option(r.getAs[java.lang.Long]("min_num_micros")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("max_num_micros")).map(_.toLong),
        Option(r.getAs[String]("min_str")), Option(r.getAs[String]("max_str"))))
      .toMap
    assert(out("o_orderkey") ===
      ((3L, 0L, 2L, Some(1000000L), Some(2000000L), None, None)))
    assert(out("o_custkey") ===
      ((3L, 1L, 2L, Some(10000000L), Some(20000000L), None, None)))
    assert(out("o_orderstatus") === ((3L, 0L, 3L, None, None, Some("F"), Some("P"))))
    assert(out("o_totalprice") ===
      ((3L, 1L, 2L, Some(100500000L), Some(200250000L), None, None)))
    // epoch micros of 2024-01-01 / 2024-02-01 UTC
    assert(out("o_orderdate") ===
      ((3L, 1L, 2L, Some(1704067200000000L), Some(1706745600000000L), None, None)))
    assert(out("o_orderpriority") ===
      ((3L, 1L, 2L, None, None, Some("1-URGENT"), Some("2-HIGH"))))
  }

  test("constraint suite counts each violation class exactly") {
    val dir = java.nio.file.Files.createTempDirectory("constraints_fix").toString
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    writeOrders(dir, Seq(
      (1L, 10L, "O", 100.0, ts, "p"), // clean
      (1L, 20L, "F", 50.0, ts, "p"),  // duplicate orderkey
      (3L, null, "O", 5.0, ts, "p"),  // null custkey (also unreferenced)
      (4L, 99L, "O", 5.0, ts, "p"),   // orphan custkey
      (5L, 10L, "X", -2.0, ts, "p"))) // bad status + nonpositive price
    Seq((10L, "Customer#10", 1, 0.0, "A"), (20L, "Customer#20", 1, 0.0, "A"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q170_constraints")(spark, dir).collect()
      .map(r => r.getAs[String]("rule") -> (r.getAs[Long]("n_checked"),
        r.getAs[Long]("n_violations"), r.getAs[Boolean]("passed"))).toMap
    assert(out("orderkey_unique") === ((5L, 1L, false)))
    assert(out("custkey_complete") === ((5L, 1L, false)))
    // a NULL custkey matches no customer, so it counts here too —
    // incomplete AND unreferenced, the documented double-count
    assert(out("custkey_referential") === ((5L, 2L, false)))
    assert(out("totalprice_positive") === ((5L, 1L, false)))
    assert(out("status_domain") === ((5L, 1L, false)))
  }

  test("k-anonymity audit: histogram, risk gate, and min-l replay the fixture") {
    val dir = java.nio.file.Files.createTempDirectory("kanon_fix").toString
    // QI (nation, segment): (1,A) k=6 l=3; (1,B) k=2 l=1; (2,A) k=1 l=1
    val rows = Seq(
      (1L, 1, 0.0, "A"), (2L, 1, 500.0, "A"), (3L, 1, 1500.0, "A"),
      (4L, 1, 2500.0, "A"), (5L, 1, 500.0, "A"), (6L, 1, 700.0, "A"),
      (7L, 1, 100.0, "B"), (8L, 1, 100.0, "B"),
      (9L, 2, 0.0, "A"))
    rows.map { case (k, n, b, s) => (k, s"Customer#$k", n, b, s) }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q210_k_anonymity")(spark, dir).collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[Long]("k"),
        r.getAs[Long]("n_groups"), r.getAs[Long]("n_rows")))
    assert(out.toSeq === Seq(
      ("at_risk", 5L, 2L, 3L),
      ("k_hist", 1L, 1L, 1L), ("k_hist", 2L, 1L, 2L), ("k_hist", 6L, 1L, 6L),
      ("l_div_min", 1L, 2L, 3L)))
  }

  test("t-closeness: a concentrated class scores the EMD gap, the gate counts it") {
    import spark.implicits._
    // buckets b0/b1/b2 (500/1500/2500). Class A = [b0,b0] → CDF
    // 1e6,1e6,1e6; class B = [b0,b1,b2] → 333333,666666,1e6; global
    // CDF 600000,800000,1e6. t_A = (400000+200000)//2 = 300000 (fails
    // the 0.2 gate), t_B = (266667+133334)//2 = 200000 (passes).
    val dir = java.nio.file.Files.createTempDirectory("tclose_fix").toString
    Seq((1L, "c1", 1, 500.0, "X"), (2L, "c2", 1, 500.0, "X"),
      (3L, "c3", 2, 500.0, "X"), (4L, "c4", 2, 1500.0, "X"),
      (5L, "c5", 2, 2500.0, "X"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q350_t_closeness")(spark, dir).collect()
      .map(r => (r.getAs[Long]("nk"), r.getAs[String]("seg"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("t_ppm")))
    assert(out.toSeq === Seq((1L, "X", 2L, 300000L), (2L, "X", 3L, 200000L),
      (-1L, "zz_fail", 2L, 1L)))
  }
}
