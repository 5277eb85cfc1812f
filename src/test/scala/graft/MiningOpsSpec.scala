package graft

import org.apache.spark.sql.functions._
import graft.analytics.MiningOps

/** Hand-computed fixtures for the mining/evaluation layer: edit-verified
  * near-dups, cluster-density structure audits, rank-sum AUC with ties,
  * the per-class/macro classification report, and basket lift.
  */
class MiningOpsSpec extends SparkSpec {
  import spark.implicits._

  // 14 tokens, 69 chars; the edit appends one char (lev 1) and touches
  // only the final shingle: J = 11/13 = 0.846 >= 0.8.
  private val rev =
    "the quick brown fox jumps over the lazy dog near the river bank today"
  private val revEdited =
    "the quick brown fox jumps over the lazy dog near the river bank todays"

  private def docs = Seq(
    (1L, rev), (2L, rev), (3L, revEdited),
    (4L, "completely unrelated text about spark physical plans and shuffles here"),
    (5L, "short one")
  ).toDF("doc_id", "text")

  test("editVerifiedNearDups keeps true revisions and reports exact Levenshtein") {
    val r = MiningOps.editVerifiedNearDups(docs)
      .orderBy("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(3), x.getLong(4)))
    // (1,2): identical -> lev 0, ratio 0. (1,3)/(2,3): one inserted char
    // over max length 70 -> 1*1e6 div 70 = 14285.
    assert(r.toSeq === Seq((1L, 2L, 0L, 0L), (1L, 3L, 1L, 14285L), (2L, 3L, 1L, 14285L)))
  }

  test("clusterDensity canonicalizes reversed and duplicate edges") {
    val canonical = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 2L), (1L, 3L), (3L, 1L), (2L, 2L))
      .toDF("id_a", "id_b")
    val a = MiningOps.clusterDensity(canonical).orderBy("cluster_id").collect().toSeq
    val b = MiningOps.clusterDensity(messy).orderBy("cluster_id").collect().toSeq
    assert(a === b)
  }

  test("a tight edit-ratio cutoff drops the edited revision but keeps the clone") {
    val r = MiningOps.editVerifiedNearDups(docs, maxRatioMicros = 0L)
      .select("id_a", "id_b").orderBy("id_a").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq === Seq((1L, 2L)))
  }

  test("clusterDensity separates a clique from a chain by hand-computed micros") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),            // triangle
      (10L, 11L), (11L, 12L), (12L, 13L)       // 4-node path
    ).toDF("id_a", "id_b")
    val r = MiningOps.clusterDensity(pairs).orderBy("cluster_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
    // triangle: 3 docs, 3 edges, 1 triangle, density 2e6*3/(3*2)=1e6,
    //   wedges = 3 (deg 2 each) -> transitivity 3e6*1/3 = 1e6.
    // path: 4 docs, 3 edges, 0 triangles, density 2e6*3/(4*3)=5e5,
    //   transitivity 0.
    assert(r.toSeq === Seq(
      (1L, 3L, 3L, 1L, 1000000L, 1000000L),
      (10L, 4L, 3L, 0L, 500000L, 0L)))
  }

  test("rankSumAuc is 1e6/0 for perfect separation and tie-aware in between") {
    val perfect = Seq((1L, "x", 10L), (2L, "x", 8L), (3L, "y", 5L), (4L, "y", 1L))
      .toDF("doc_id", "lang", "score")
    val p = MiningOps.rankSumAuc(perfect).orderBy("label").collect()
      .map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(p === Map("x" -> 1000000L, "y" -> 0L))
    // tie: docs 1 (x) and 2 (y) share score 5; doc 3 (y) below.
    // avg rank of the tie group = 2.5 -> AUC_x = (5 - 2)/4 = 0.75.
    val tied = Seq((1L, "x", 5L), (2L, "y", 5L), (3L, "y", 1L))
      .toDF("doc_id", "lang", "score")
    val t = MiningOps.rankSumAuc(tied).orderBy("label").collect()
      .map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(t("x") === 750000L)
  }

  test("classificationReport hand-computed per-class and macro rows") {
    val preds = Seq(("en", "en"), ("en", "de"), ("de", "de"), ("fr", "de"))
      .toDF("act", "pred")
    val r = MiningOps.classificationReport(preds).orderBy("lang").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6)))
    assert(r.toSeq === Seq(
      // de: tp=1 fp=2 fn=0 -> P=333333 R=1e6 F1=2*P*R div (P+R)=499999
      ("de", 1L, 2L, 0L, 333333L, 1000000L, 499999L),
      // en: tp=1 fp=0 fn=1 -> P=1e6 R=5e5 F1=666666
      ("en", 1L, 0L, 1L, 1000000L, 500000L, 666666L),
      // fr: never predicted -> all zero, no division error
      ("fr", 0L, 0L, 1L, 0L, 0L, 0L),
      // macro: summed counts, unweighted class means (floor div by 3)
      ("zz_macro", 2L, 2L, 2L, 444444L, 500000L, 388888L)))
  }

  test("basketLift hand-computed lift with support filtering") {
    val li = Seq(
      (100L, 1L), (100L, 2L),
      (200L, 1L), (200L, 2L),
      (300L, 1L), (300L, 2L), (300L, 3L),
      (400L, 3L)
    ).toDF("l_orderkey", "l_partkey")
    val r = MiningOps.basketLift(li).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(5)))
    // only (1,2) reaches support 3; lift = 3*4*1e6 div (3*3) = 1333333
    assert(r.toSeq === Seq((1L, 2L, 3L, 1333333L)))
  }

  test("basketLift ignores duplicate lineitem rows for the same (order, part)") {
    val li = Seq(
      (100L, 1L), (100L, 1L), (100L, 2L),
      (200L, 1L), (200L, 2L),
      (300L, 1L), (300L, 2L)
    ).toDF("l_orderkey", "l_partkey")
    val r = MiningOps.basketLift(li).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(5)))
    // 3 orders here: lift = 3*3*1e6 div (3*3) = 1e6 — and the duplicate
    // (100, p1) row must not inflate c_a past 3
    assert(r.toSeq === Seq((1L, 2L, 3L, 1000000L)))
  }

  test("basketTriples counts canonical triples with exact support") {
    // baskets: {1,2,3} {1,2,3,4} {1,2,4} → support (1,2,3)=2 (1,2,4)=2,
    // the four others 1; minSupport=2 keeps exactly the two, ordered
    val li = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 2L), (3L, 4L),
      (3L, 4L) // duplicate (order, part) row must not inflate support
    ).toDF("l_orderkey", "l_partkey")
    val r = MiningOps.basketTriples(li).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq === Seq((1L, 2L, 3L, 2L), (1L, 2L, 4L, 2L)))
  }

  test("interval overlap pairs: inclusive day arithmetic and the canonical order") {
    import java.sql.Date
    val iv = Seq(
      ("c1", 1L, Date.valueOf("2024-01-01"), Date.valueOf("2024-01-10")),
      ("c1", 2L, Date.valueOf("2024-01-10"), Date.valueOf("2024-01-20")), // touches 1 on one day
      ("c1", 3L, Date.valueOf("2024-02-01"), Date.valueOf("2024-02-05")), // disjoint
      ("c2", 4L, Date.valueOf("2024-01-05"), Date.valueOf("2024-01-08")) // other key
    ).toDF("key", "id", "ivs", "ive")
    val r = graft.analytics.TemporalOps.intervalOverlapPairs(iv)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // single-day touch counts as overlap_days = 1; disjoint and
    // cross-key pairs never appear
    assert(r.toSeq === Seq(("c1", 1L, 2L, 1L)))
  }

  test("ER blocking audit counts candidate pairs and bounded-lev matches per block") {
    val dir = java.nio.file.Files.createTempDirectory("erblock_fix").toString
    Seq(
      (1L, "Customer#000000001", 1, 0.0, "A"),
      (2L, "Customer#000000002", 1, 0.0, "A"), // lev 1 from #1 → match
      (3L, "Totally#Different##", 1, 0.0, "A"), // far from both
      (4L, "Customer#000000004", 2, 0.0, "A")   // singleton block: 0 pairs
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q171_er_blocking")(spark, dir).collect()
      .map(r => (r.getAs[Long]("nk"), r.getAs[String]("seg")) ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("n_matches"), r.getAs[Long]("match_rate_ppm"))).toMap
    assert(out((1L, "A")) === ((3L, 3L, 1L, 333333L)))
    assert(out((2L, "A")) === ((1L, 0L, 0L, 0L)))
  }

  test("ABC classification cuts the ranked cumulative shares at 80/95") {
    val dir = java.nio.file.Files.createTempDirectory("abc_fix").toString
    // part revenues 80, 15, 4, 1 (discount 0) → cum shares 80/95/99/100:
    // A = {80} (exactly at the 80% bound), B = {15}, C = {4, 1}
    Seq((1L, 80.0, 0.0), (2L, 15.0, 0.0), (3L, 4.0, 0.0), (4L, 1.0, 0.0))
      .toDF("l_partkey", "l_extendedprice", "l_discount")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q192_abc_pareto")(spark, dir).collect()
      .map(r => r.getAs[String]("cls") -> (r.getAs[Long]("n_parts"),
        r.getAs[Long]("rev_micros"), r.getAs[Long]("share_ppm"))).toMap
    assert(out("A") === ((1L, 80000000L, 800000L)))
    assert(out("B") === ((1L, 15000000L, 150000L)))
    assert(out("C") === ((2L, 5000000L, 50000L)))
  }

  test("local clustering: triangle + pendant replays the hand arithmetic") {
    // triangle 1-2-3 plus pendant 3-4; a reversed duplicate (2,1)
    // must be canonicalized away. lcc: 1,2 → 1e6; 3 → 2e6/(3·2) =
    // 333333; 4 → deg<2 ⇒ 0. zz: 3 nodes with deg ≥ 2, Σtri = 3,
    // avg = 2333333 div 3 = 777777.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 1L))
      .toDF("id_a", "id_b")
    val out = graft.analytics.MiningOps.localClustering(pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("deg"),
        r.getAs[Long]("n_tri"), r.getAs[Long]("lcc_ppm")))
    assert(out.toSeq === Seq(
      (-1L, 3L, 3L, 777777L),
      (1L, 2L, 1L, 1000000L), (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L), (4L, 1L, 0L, 0L)))
  }

  test("canonical rep keeps the longest cluster member, tie on lowest id") {
    val dir = java.nio.file.Files.createTempDirectory("canon_fix").toString
    // docs 1,2 identical (69 chars), doc 3 the 70-char edit — one
    // near-dup cluster; the representative must be the LONGEST copy
    // (doc 3), not the lowest id the q57 convention would keep.
    Seq((1L, rev), (2L, rev), (3L, revEdited),
      (4L, "completely unrelated text about spark physical plans and shuffles here"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q228_canonical_rep")(spark, dir).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_members"),
        r.getAs[Long]("keep_id"), r.getAs[Long]("keep_chars"),
        r.getAs[Long]("n_dropped")))
    assert(out.toSeq === Seq((1L, 3L, 3L, 70L, 2L)))
  }

  test("skyline keeps exactly the non-dominated parts, duplicates included") {
    val dir = java.nio.file.Files.createTempDirectory("sky_fix").toString
    // (price, size): 3 is the cheap small corner; 4 is dominated by 3
    // (pricier, same size); 1 and 2 are equal-point duplicates (both
    // survive — neither dominates the other); 5 is the big expensive
    // corner; 6 shares 5's price with a smaller size (dominated).
    Seq((1L, 10.0, 5), (2L, 10.0, 5), (3L, 5.0, 3),
      (4L, 8.0, 3), (5L, 12.0, 7), (6L, 12.0, 6))
      .map { case (k, pr, sz) => (k, s"part$k", "B", "T", sz, pr) }
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = SparkEntry.queries("q268_skyline")(spark, dir).collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Long]("p_size")))
    assert(out.toSeq === Seq((3L, 3L), (1L, 5L), (2L, 5L), (5L, 7L)))
  }

  test("zone-map advisor: pruning is certified sound and clustering helps") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q267_zonemap_advisor")(spark, dir).collect()
    val zones = rows.filter(_.getAs[Long]("zone") >= 0L)
    // soundness: a pruned zone may contain NO matching rows
    assert(zones.filter(_.getAs[Long]("survives") === 0L)
      .forall(_.getAs[Long]("n_match") === 0L))
    val zz = rows.filter(_.getAs[Long]("zone") === -1L)
      .map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("od_min"), r.getAs[Long]("od_max"),
          r.getAs[Long]("n_match"))).toMap
    // both layouts index the same table: totals and match counts agree
    assert(zz("physical")._1 === zz("clustered")._1)
    assert(zz("physical")._4 === zz("clustered")._4)
    // the clustered layout never scans more rows or keeps more zones
    assert(zz("clustered")._2 <= zz("physical")._2)
    assert(zz("clustered")._3 <= zz("physical")._3)
  }

  test("Merkle diff flags exactly the buckets holding corrupted rows") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q279_merkle_diff")(spark, dir).collect()
    val per = rows.filter(_.getAs[Long]("bucket") >= 0L)
    // soundness AND measured no-collision: fingerprints match iff the
    // bucket truly carries zero differing rows
    assert(per.forall(r =>
      (r.getAs[Long]("fp_equal") == 1L) == (r.getAs[Long]("n_diff") == 0L)))
    val zz = rows.find(_.getAs[Long]("bucket") == -1L).get
    assert(zz.getAs[Long]("fp_equal") ===
      per.count(_.getAs[Long]("n_diff") > 0L).toLong)
  }

  test("FD discovery separates the key, the violated, and the accidental") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("fd_fix").toString
    // orderkey→custkey holds (key); custkey→priority violated by cust 1
    // (two priorities); priority→status holds HERE by accident (each
    // priority maps to one status)
    Seq((1L, 1L, "O", "1-URGENT"), (2L, 1L, "F", "2-HIGH"),
      (3L, 2L, "O", "1-URGENT"))
      .map { case (k, c, st, pr) =>
        (k, c, st, 10.0, Timestamp.valueOf("2024-01-01 00:00:00"), pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q283_fd_discovery")(spark, dir).collect()
      .map(r => (r.getAs[String]("fd"), r.getAs[Long]("ndv_lhs"),
        r.getAs[Long]("ndv_pair"), r.getAs[Long]("n_violating"),
        r.getAs[Boolean]("holds")))
    assert(out.toSeq === Seq(
      ("custkey->priority", 2L, 3L, 1L, false),
      ("orderkey->custkey", 3L, 3L, 0L, true),
      ("priority->status", 2L, 2L, 0L, true)))
  }

  test("sequence-gap audit finds both holes and the largest one") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("gap_fix").toString
    // keys {1,2,3,7,10,11}: gaps [4..6] (len 3) and [8..9] (len 2) →
    // 5 missing, 3 islands, largest gap starts at 4
    Seq(1L, 2L, 3L, 7L, 10L, 11L)
      .map(k => (k, 1L, "O", 10.0,
        Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q295_sequence_gaps")(spark, dir).collect().head
    assert((r.getAs[Long]("n_keys"), r.getAs[Long]("key_min"),
      r.getAs[Long]("key_max"), r.getAs[Long]("n_missing"),
      r.getAs[Long]("n_islands"), r.getAs[Long]("gap_start"),
      r.getAs[Long]("gap_len"), r.getAs[Long]("sum_check")) ===
      ((6L, 1L, 11L, 5L, 3L, 4L, 3L, 1L)))
  }
}
