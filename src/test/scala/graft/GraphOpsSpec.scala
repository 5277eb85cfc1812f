package graft

import org.apache.spark.sql.functions._
import graft.analytics.GraphOps

/** Integer-micros PageRank: hand-computed star-graph values, mass
  * accounting, and determinism.
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def star = Seq(
    ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")
  ).toDF("src", "dst")

  test("one iteration on the 3-node star matches hand-computed micros") {
    // N=3, init=333333, base=15000000/300=50000, outdeg a=2, b=c=1.
    // a receives 333333+333333=666666 -> 50000 + (85*666666) div 100 = 616666
    // b,c each receive 333333 div 2 = 166666 -> 50000 + (85*166666) div 100 = 191666
    val r = GraphOps.pageRankMicros(star, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map("a" -> 616666L, "b" -> 191666L, "c" -> 191666L))
  }

  test("rank mass stays within the floored-division decay envelope") {
    val rs = GraphOps.pageRankMicros(star, iters = 3)
      .select("rank_m").as[Long].collect()
    // total mass starts at ~1e6 and each division floors away <1 micro
    // per edge per iteration (4 edges, damping + base rounding ~tens)
    assert(rs.sum <= 1000000L)
    assert(rs.sum >= 1000000L - 100L)
    assert(rs.forall(_ > 0L))
  }

  test("an empty edge list yields an empty rank table, not a driver division by zero") {
    val empty = star.limit(0)
    val r = GraphOps.pageRankMicros(empty, iters = 3)
    assert(r.columns.toSeq === Seq("node", "rank_m", "rank_r"))
    assert(r.count() === 0L)
  }

  // ---- directed variant: dangling-mass redistribution ----

  test("directed chain a->b->c matches hand-computed micros at 1 and 2 iterations") {
    // N=3, init=333333, base=50000; deg a=1, b=1; c dangling.
    // iter1: dang=333333, dang div 3 = 111111
    //   a: 50000 + (85*(0      +111111)) div 100 = 50000 +  94444 = 144444
    //   b: 50000 + (85*(333333+111111)) div 100 = 50000 + 377777 = 427777
    //   c: 50000 + (85*(333333+111111)) div 100 = 427777
    val chain = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r1 = GraphOps.pageRankDirectedMicros(chain, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r1 === Map("a" -> 144444L, "b" -> 427777L, "c" -> 427777L))
    // iter2: dang=427777 (c), div 3 = 142592
    //   a: 50000 + (85*142592)           div 100 = 50000 + 121203 = 171203
    //   b: 50000 + (85*(144444+142592)) div 100 = 50000 + 243980 = 293980
    //   c: 50000 + (85*(427777+142592)) div 100 = 50000 + 484813 = 534813
    val r2 = GraphOps.pageRankDirectedMicros(chain, iters = 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r2 === Map("a" -> 171203L, "b" -> 293980L, "c" -> 534813L))
  }

  test("directed star a->{b,c} redistributes the sinks' mass to every node") {
    // N=3, init=333333, base=50000; deg a=2; b,c dangling.
    // iter1: dang=666666, div 3 = 222222; contrib b,c = 333333 div 2 = 166666
    //   a: 50000 + (85*222222)           div 100 = 50000 + 188888 = 238888
    //   b: 50000 + (85*(166666+222222)) div 100 = 50000 + 330554 = 380554 (= c)
    val dstar = Seq(("a", "b"), ("a", "c")).toDF("src", "dst")
    val r = GraphOps.pageRankDirectedMicros(dstar, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map("a" -> 238888L, "b" -> 380554L, "c" -> 380554L))
  }

  test("directed PageRank conserves mass within the flooring envelope and handles empty input") {
    val chain = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val rs = GraphOps.pageRankDirectedMicros(chain, iters = 3)
      .select("rank_m").as[Long].collect()
    // dangling redistribution keeps total mass ~1e6: each iteration
    // floors away <1 micro per edge + <1 per node + the damp/base floors
    assert(rs.sum <= 1000000L && rs.sum >= 1000000L - 100L)
    val empty = chain.limit(0)
    val r = GraphOps.pageRankDirectedMicros(empty, iters = 2)
    assert(r.columns.toSeq === Seq("node", "rank_m", "rank_r"))
    assert(r.count() === 0L)
  }

  test("TrustRank on the chain a->b->c with seed {a} matches hand-computed micros") {
    // |S|=1, base = 15e6/100 = 150000; start a=1e6, b=c=0; c dangling.
    // iter1: dang=0;      a: 150000,                b: 85%*1e6   = 850000, c: 0
    // iter2: dang=0;      a: 150000,                b: 85%*150000=127500,  c: 85%*850000=722500
    // iter3: dang=722500 (seed-gated, a only):
    //   a: 150000 + (85*722500) div 100 = 150000 + 614125 = 764125
    //   b: (85*150000) div 100 = 127500
    //   c: (85*127500) div 100 = 108375
    val chain = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    val r = GraphOps.trustRankMicros(chain, seeds, iters = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map("a" -> 764125L, "b" -> 127500L, "c" -> 108375L))
    // non-seed-reachable-only nodes hold zero trust: seed {c} on the
    // same chain gives c (sink) all mass, a/b none flows back
    val r2 = GraphOps.trustRankMicros(chain, Seq("c").toDF("node"), iters = 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r2("a") === 0L && r2("b") === 0L)
    // empty seed set: empty result, not a division by zero
    assert(GraphOps.trustRankMicros(chain, seeds.limit(0), iters = 2).count() === 0L)
  }

  test("weighted PageRank splits rank by edge weight: hand-computed star") {
    // a→b w=3, a→c w=1: W(a)=4; N=3, init=333333, base=50000;
    // b,c dangling → dang=666666, div 3 = 222222.
    //   a: 50000 + (85*222222) div 100                        = 238888
    //   b: 333333*3 div 4 = 249999; 50000 + 85%*(249999+222222)
    //      = 50000 + (85*472221) div 100 = 50000 + 401387     = 451387
    //   c: 333333 div 4 = 83333;  50000 + (85*305555) div 100 = 309721
    val wstar = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "w")
    val r = GraphOps.pageRankWeightedMicros(wstar, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map("a" -> 238888L, "b" -> 451387L, "c" -> 309721L))
  }

  test("HITS on a 2-user bipartite fixture matches hand-computed micros") {
    // u1→{i1,i2}, u2→{i1}.
    // iter1: a(i1)=2e6, a(i2)=1e6 → norm: i1=1e6, i2=500000
    //        h(u1)=1.5e6, h(u2)=1e6 → norm: u1=1e6, u2=666666
    // iter2: a(i1)=1666666, a(i2)=1e6 → i1=1e6, i2=(1e12)//1666666=600000
    //        h(u1)=1.6e6, h(u2)=1e6 → u1=1e6, u2=(1e12)//1600000=625000
    val bi = Seq(("u1", "i1"), ("u1", "i2"), ("u2", "i1")).toDF("src", "dst")
    val r = GraphOps.hitsMicros(bi).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r === Map(("u1", "hub") -> 1000000L, ("u2", "hub") -> 625000L,
      ("i1", "auth") -> 1000000L, ("i2", "auth") -> 600000L))
  }

  test("weighted PageRank with unit weights equals the uniform directed variant") {
    val chain = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val u = GraphOps.pageRankDirectedMicros(chain, iters = 3).orderBy("node").collect().toSeq
    val w = GraphOps.pageRankWeightedMicros(chain.withColumn("w", lit(1L)), iters = 3)
      .orderBy("node").collect().toSeq
    assert(u === w)
  }

  test("bidirected edge list: directed variant agrees with pageRankMicros (no dangling nodes)") {
    val r1 = GraphOps.pageRankMicros(star, iters = 3).orderBy("node").collect().toSeq
    val r2 = GraphOps.pageRankDirectedMicros(star, iters = 3).orderBy("node").collect().toSeq
    assert(r1 === r2)
  }

  test("k-core peel: triangle survives the 2-core, pendants and chains do not") {
    // triangle a-b-c, pendant d on a, isolated pair e-f (mirrored edges)
    val und = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"), ("e", "f"))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    // the shipped delta peel and the classic reference, same pins
    for (peel <- Seq(GraphOps.kCorePeelDelta _, GraphRefs.kCorePeel _)) {
      val (m2, conv2) = peel(e, 2, 6)
      val got = m2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
      assert(conv2.collect().head.getBoolean(0))
      // k=3: node a starts at degree 3 but the candidate set collapses to
      // {a} after one round and to empty the next — converged and empty
      val (m3, conv3) = peel(e, 3, 6)
      assert(m3.count() === 0L)
      assert(conv3.collect().head.getBoolean(0))
    }
  }

  test("k-core delta peel equals the semi-join peel round-for-round outputs") {
    // same fixtures as above, plus a long chain (multi-round cascade:
    // pendants die one ring at a time, exercising the decrement path
    // across rounds) and a clique-with-tail where degrees DROP but stay
    // >= k (decrement without death)
    val und = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"), ("e", "f"),
      ("p1", "p2"), ("p2", "p3"), ("p3", "p4"), ("p4", "p5"),
      ("k1", "k2"), ("k1", "k3"), ("k1", "k4"), ("k2", "k3"),
      ("k2", "k4"), ("k3", "k4"), ("k4", "t1"))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    for (k <- Seq(2, 3); rounds <- Seq(2, 6)) {
      def key(p: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) =
        (p._1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
          p._2.collect().head.getBoolean(0))
      assert(key(GraphOps.kCorePeelDelta(e, k, rounds)) ===
        key(GraphRefs.kCorePeel(e, k, rounds)), s"k=$k rounds=$rounds")
    }
  }

  test("coreness ladder separates clique, cycle, and pendant shells") {
    // K5 clique (coreness 4 -> ladder level 4), a 4-cycle hanging off it
    // (coreness 2), and a pendant chain (coreness 1); dyadic ladder 1,2,4
    val k5 = for (i <- 0 until 5; j <- i + 1 until 5) yield (s"c$i", s"c$j")
    val cyc = Seq(("c0", "y1"), ("y1", "y2"), ("y2", "y3"), ("y3", "c0"))
    val pend = Seq(("y3", "p1"), ("p1", "p2"))
    val und = k5 ++ cyc ++ pend
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.corenessLadder(e, Seq(1, 2, 4))
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert((0 until 5).forall(i => got(s"c$i") === 4L), "clique nodes sit in the 4-shell")
    assert(Seq("y1", "y2", "y3").forall(got(_) === 2L), "cycle nodes sit in the 2-shell")
    assert(Seq("p1", "p2").forall(got(_) === 1L), "pendant chain is 1-shell")
    val flags = out.collect().head
    assert(Seq("converged_k1", "converged_k2", "converged_k4")
      .forall(c => flags.getAs[Boolean](c)), "all levels reach their fixpoints")
  }

  test("degree assortativity of a star is exactly r = -1 in micros") {
    // deg a=2, b=c=1 over the 4 mirrored edges: sx=sy=6, sxy=8, sxx=syy=10
    // ex=1500000, exy=2000000, exx=2500000 -> cov=-250000, var=250000
    val r = GraphOps.degreeAssortativityMicros(star).collect().head
    assert(r.getAs[Long]("n_edges") === 4L)
    assert(r.getAs[Long]("cov_m") === -250000L)
    assert(r.getAs[Long]("varx_m") === 250000L)
    assert(r.getAs[Long]("vary_m") === 250000L)
    assert(r.getAs[Long]("r_sign") === -1L)
    assert(r.getAs[Long]("r2_micros") === 1000000L)
  }

  test("hub outranks leaves and the result is deterministic") {
    val r1 = GraphOps.pageRankMicros(star, iters = 3).orderBy("node").collect().toSeq
    val r2 = GraphOps.pageRankMicros(star, iters = 3).orderBy("node").collect().toSeq
    assert(r1 === r2)
    val m = r1.map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(m("a") > m("b") && m("a") > m("c"))
  }

  test("label propagation resolves two disconnected triangles to their min seeds") {
    // trace (hand-unrolled 3 rounds, mode + min-label ties): each
    // complete triangle converges to its lexicographically-least node
    def tri(ns: Seq[String]) = for {
      a <- ns; b <- ns if a != b
    } yield (a, b)
    val edges = (tri(Seq("a", "b", "c")) ++ tri(Seq("x", "y", "z")))
      .toDF("src", "dst")
    val labels = GraphOps.labelPropagation(edges, iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x"))
  }

  test("k-hop reach on a mirrored path a-b-c") {
    val e = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")).toDF("src", "dst")
    val m = GraphOps.kHopReach(e).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("r1"), r.getAs[Long]("r2"))).toMap
    // a: 1-hop {b}, ≤2-hop {b,c}; b: {a,c} both; c symmetric to a
    assert(m === Map("a" -> ((1L, 2L)), "b" -> ((2L, 2L)), "c" -> ((1L, 2L))))
  }

  test("label propagation on a 2-node bipartite pair oscillates (documented synchronous semantics)") {
    // synchronous LPA's known bipartite oscillation: odd rounds swap
    // labels, even rounds restore them — pinned as a contract so a
    // future 'fix' is a deliberate semantic change, not drift
    val e = Seq(("p", "q"), ("q", "p")).toDF("src", "dst")
    val odd = GraphOps.labelPropagation(e, iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(odd === Map("p" -> "q", "q" -> "p"))
    val even = GraphOps.labelPropagation(e, iters = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(even === Map("p" -> "p", "q" -> "q"))
  }

  test("resource-allocation link prediction weights shared rare items above shared hubs") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // item 100 shared by {1,2} (deg 2 → 500000/term); item 200 by
    // {1,2,3} (deg 3 → 333333); item 300 only user 3. Pair (1,2)
    // scores 833333 over two common items; (1,3)/(2,3) tie at 333333.
    val dir = java.nio.file.Files.createTempDirectory("linkra_fix").toString
    Seq(
      (1L, 1L, 100L), (2L, 2L, 100L), (3L, 1L, 200L), (4L, 2L, 200L),
      (5L, 3L, 200L), (6L, 3L, 300L),
      (7L, 1L, 100L) // duplicate interaction must not double-count
    ).map { case (e, u, k) =>
      (e, ts("2024-01-01 10:00:00"), u, "click", 0.0, s"""{"k": $k}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q168_link_ra")(spark, dir).collect()
      .map(r => (r.getAs[Long]("u_a"), r.getAs[Long]("u_b"),
        r.getAs[Long]("common_items"), r.getAs[Long]("ra_micros")))
    assert(out.toSeq === Seq(
      (1L, 2L, 2L, 833333L), (1L, 3L, 1L, 333333L), (2L, 3L, 1L, 333333L)))
  }

  test("deterministic walks: replayable, window-bounded, and conserving co-occurrence mass") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("walks_fix").toString
    // path graph u:1 — i:100 — u:2 (3 nodes, bidirected)
    Seq((1L, 1L, 100L), (2L, 2L, 100L)).map { case (e, u, k) =>
      (e, ts("2024-01-01 10:00:00"), u, "click", 0.0, s"""{"k": $k}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def run() = SparkEntry.queries("q189_det_walks")(spark, dir).collect()
      .map(r => (r.getAs[String]("na"), r.getAs[String]("nb"),
        r.getAs[Long]("n_cooc")))
    val a = run(); val b = run()
    assert(a.toSeq === b.toSeq, "walks must be hash-deterministic")
    // 3 nodes × 2 walks × 5 window pairs per 4-position walk = 30
    assert(a.map(_._3).sum === 30L)
    // on a path graph every co-occurring pair is within 2 hops: u↔i
    // always, u↔u only THROUGH the item — never an impossible pair
    val nodes = Set("u:1", "u:2", "i:100")
    assert(a.forall(p => nodes(p._1) && nodes(p._2)))
  }

  test("modularity: two bridged triangles replay the hand arithmetic") {
    // triangles {a,b,c} and {d,e,f} + bridge c–d, mirrored: m2 = 14.
    // Each community: e2_c = 6, d_c = 7 → intra 6e6 div 14 = 428571,
    // expected 49e6 div 196 = 250000, q = 178571; total Q = 357142.
    val und = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("d", "e"), ("d", "f"), ("e", "f"), ("c", "d"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val comm = Seq("a" -> "c1", "b" -> "c1", "c" -> "c1",
      "d" -> "c2", "e" -> "c2", "f" -> "c2").toDF("node", "label")
    val out = graft.analytics.GraphOps.modularityPpm(edges, comm).collect()
      .map(r => (r.getAs[String]("label"), r.getAs[Long]("n_members"),
        r.getAs[Long]("e2_c"), r.getAs[Long]("d_c"),
        r.getAs[Long]("intra_ppm"), r.getAs[Long]("expected_ppm"),
        r.getAs[Long]("q_ppm")))
    assert(out.toSeq === Seq(
      ("zz_total", 6L, 12L, 14L, 857142L, 500000L, 357142L),
      ("c1", 3L, 6L, 7L, 428571L, 250000L, 178571L),
      ("c2", 3L, 6L, 7L, 428571L, 250000L, 178571L)))
  }

  test("modularity: the all-in-one-community partition scores Q = 0-ish") {
    // single community: intra = all edges → intra_ppm = 1e6, expected =
    // (m2)²/(m2)² → 1e6, q = 0 exactly.
    val und = Seq(("a", "b"), ("b", "c"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val comm = Seq("a" -> "x", "b" -> "x", "c" -> "x").toDF("node", "label")
    val zz = graft.analytics.GraphOps.modularityPpm(edges, comm).collect()
      .find(_.getAs[String]("label") == "zz_total").get
    assert(zz.getAs[Long]("q_ppm") === 0L)
  }

  test("textrank: star-of-words ranks the hub first, leaves tied") {
    // "alpha beta alpha gamma" → edges alpha↔beta, alpha↔gamma.
    // 3 uniform rounds in micros: alpha 580541, beta = gamma = 209728.
    val docs = Seq("alpha beta alpha gamma").toDF("text")
    val out = graft.analytics.GraphOps.textRankKeywords(docs).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("rank_m")))
    assert(out.toSeq === Seq(
      ("alpha", 580541L), ("beta", 209728L), ("gamma", 209728L)))
  }

  test("textrank: short tokens never enter the graph") {
    // "of" and "the" fall below minLen=4; adjacency is over the
    // FILTERED sequence, so "wolf" links to "sheep" across them.
    val docs = Seq("wolf of the sheep").toDF("text")
    val out = graft.analytics.GraphOps.textRankKeywords(docs).collect()
      .map(_.getAs[String]("word")).toSet
    assert(out === Set("wolf", "sheep"))
  }

  test("triangle census: hand-computed counts and clustering coefficients") {
    // baskets {1,2,3}, {3,4}, {1,2} → edges 1-2, 1-3, 2-3, 3-4 (the
    // duplicate 1-2 is distinct-ed). One triangle. Degrees 2,2,3,1 →
    // Σ C(d,2) = 5 wedges; global cc = 3·1e6/5 = 600000 ppm. Locals:
    // v1,v2 cc = 1e6 (their only wedge closes), v3 = 2e6/6 = 333333,
    // v4 absent (no triangle).
    val dir = java.nio.file.Files.createTempDirectory("tri_fix").toString
    Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 3L), (20L, 4L), (30L, 1L), (30L, 2L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q257_triangle_census")(spark, dir).collect()
      .map(r => (r.getAs[Long]("v"), r.getAs[Long]("d"),
        r.getAs[Long]("n_tri"), r.getAs[Long]("cc_ppm")))
    assert(out.toSeq === Seq(
      (-1L, 4L, 1L, 600000L),
      (1L, 2L, 1L, 1000000L),
      (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L)))
  }

  test("triangle census: adjacency-intersection variant equals the wedge-join form") {
    // the two algorithms must agree row-for-row on graphs that exercise
    // every census branch: the hand triangle+pendant, a clique (every
    // wedge closes), and a dense-ish random graph with degree ties
    import graft.analytics.GraphOps
    def edges(ps: Seq[(Long, Long)]) = ps.toDF("pa", "pb")
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val rng = new scala.util.Random(7)
    val rand = (for (_ <- 1 to 120) yield {
      val a = rng.nextInt(20).toLong; val b = rng.nextInt(20).toLong
      if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
    }).flatten.distinct
    for (g <- Seq(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)), k5, rand)) {
      val wedge = GraphRefs.triangleCensus(edges(g)).collect().toSeq
      val adjI = GraphOps.triangleCensusAdj(edges(g)).collect().toSeq
      assert(adjI === wedge, s"variants diverge on ${g.take(6)}…")
    }
  }

  test("triangle census: a triangle-free (bipartite-like) graph reports zero everywhere") {
    val dir = java.nio.file.Files.createTempDirectory("tri_fix0").toString
    // path graph 1-2, 2-3: one wedge, never closed
    Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q257_triangle_census")(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("v") === -1L)
    assert(out.head.getAs[Long]("n_tri") === 0L)
    assert(out.head.getAs[Long]("cc_ppm") === 0L)
  }

  test("rich club: tighter thresholds shrink the club and phi stays a density") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q290_rich_club")(spark, dir).collect()
      .map(r => (r.getAs[Long]("pct"), r.getAs[Long]("k_thresh"),
        r.getAs[Long]("n_rich"), r.getAs[Long]("e_rich"),
        r.getAs[Long]("phi_ppm")))
    assert(rows.map(_._1).toSeq === Seq(50L, 75L, 90L, 95L))
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._3 >= b._3 })
    assert(rows.forall { case (_, _, n, e, phi) =>
      e <= n * (n - 1) / 2 && phi >= 0L && phi <= 1000000L })
  }

  test("adamic-adar: cohort pair scores rarity-weighted common neighbors, edges excluded") {
    // baskets {3,7}, {13,7}, {3,9}, {13,9} → edges 3-7, 7-13, 3-9,
    // 9-13. Cohort (p % 10 = 3) pair (3,13) is NOT an edge and shares
    // middles 7 and 9, both degree 2 → aa = 2·(1e15 DIV
    // round9ln(2)) = 2·(1e15 DIV 693147181) = 2885390 micros. The
    // in-cohort edge pair (none here) and out-of-cohort pairs (7,9)
    // never appear.
    val dir = java.nio.file.Files.createTempDirectory("aa_fix").toString
    Seq((10L, 3L), (10L, 7L), (20L, 13L), (20L, 7L), (30L, 3L), (30L, 9L),
      (40L, 13L), (40L, 9L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q325_adamic_adar")(spark, dir).collect()
    assert(out.length === 1)
    assert((out.head.getAs[Long]("x"), out.head.getAs[Long]("y"),
      out.head.getAs[Long]("cn"), out.head.getAs[Long]("aa_micros")) ===
      ((3L, 13L, 2L, 2885390L)))
  }

  test("moran/geary: path graph with alternating sizes is perfectly anti-assorted") {
    // baskets {1,2}, {2,3} → path 1-2-3; sizes [1,2,1]. n-scaled
    // deviations d = 3x−4 = [−1,2,−1] → Se = −4 (sign −1), Sd2 =
    // 9·6−3·16 = 6, m = 2 → |I| = 1e6·3·4/(2·6) = 1e6 (I = −1, the
    // path's exact minimum). Geary: Σ(Δx)² = 2 → C = 1e6·2·9·2/(4·6)
    // = 1.5e6. E[I] = −1/2 → 5e8 nanos (sign documented).
    val dir = java.nio.file.Files.createTempDirectory("moran_fix").toString
    Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "p1", "B", "T", 1, 10.0), (2L, "p2", "B", "T", 2, 10.0),
      (3L, "p3", "B", "T", 1, 10.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val r = SparkEntry.queries("q328_morans_i")(spark, dir).collect().head
    assert((r.getAs[Long]("n"), r.getAs[Long]("m"), r.getAs[Long]("i_sign"),
      r.getAs[Long]("i_abs_micros"), r.getAs[Long]("c_micros"),
      r.getAs[Long]("neg_e_i_nanos")) ===
      ((3L, 2L, -1L, 1000000L, 1500000L, 500000000L)))
  }

  test("harmonic 3-hop: path graph distances weight as 1, 1/2") {
    // path 1-2-3: seed 1 → hop1 {2}, hop2 {3} → 1.5e6 micros; seed 2
    // → hop1 {1,3} → 2e6; seed 3 mirrors seed 1
    val dir = java.nio.file.Files.createTempDirectory("harm_fix").toString
    Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q330_harmonic_3hop")(spark, dir).collect()
      .map(r => (r.getAs[Long]("s"), r.getAs[Long]("n1"), r.getAs[Long]("n2"),
        r.getAs[Long]("n3"), r.getAs[Long]("harmonic_micros")))
    assert(out.toSeq === Seq((1L, 1L, 1L, 0L, 1500000L),
      (2L, 2L, 0L, 0L, 2000000L), (3L, 1L, 1L, 0L, 1500000L)))
  }

  test("k-truss peel: a pendant triangle peels away, the K4 survives") {
    // cohort orders (keys % 4 = 0): basket {1,2,3,4} → K4 (6 edges,
    // 4 triangles, every edge support 2) + basket {4,5,6} → pendant
    // triangle (3 edges, support 1 each). Round 1: 9 edges, 5
    // triangles, keep 6; rounds 2–3 are the stable K4.
    val dir = java.nio.file.Files.createTempDirectory("truss_fix").toString
    (Seq((4L, 1L), (4L, 2L), (4L, 3L), (4L, 4L)) ++
      Seq((8L, 4L), (8L, 5L), (8L, 6L)))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q335_ktruss_peel")(spark, dir).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("n_edges_in"),
        r.getAs[Long]("n_tri"), r.getAs[Long]("n_kept")))
    assert(out.toSeq === Seq((1L, 9L, 5L, 6L), (2L, 6L, 4L, 6L),
      (3L, 6L, 4L, 6L)))
  }

  test("delta k-truss equals per-round support re-enumeration on the real sf0.001 cohort") {
    // the GraphRefs.kTrussRounds contract: filtering the ONE materialized
    // triangle list by surviving edges yields exactly the triangles a full
    // re-enumeration of the peeled subgraph would find — so every round
    // summary must match the r10 shipping plan bit for bit
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    def cohort() = graft.Stage.mat(GraphOps.partCoPurchaseEdges(
      li.filter(pmod(col("l_orderkey"), lit(4)) === 0)))
    var eCur = cohort()
    val reenum = (1 to 3).map { r =>
      val sup = graft.Stage.mat(GraphRefs.edgeSupport(eCur))
      val next = graft.Stage.mat(
        sup.filter(col("sup") >= 2).select(col("pa"), col("pb")))
      val row = eCur.agg(count(lit(1)).as("n_edges_in"))
        .crossJoin(sup.agg(expr("coalesce(sum(sup), 0) DIV 3").as("n_tri")))
        .crossJoin(next.agg(count(lit(1)).as("n_kept")))
        .selectExpr(s"CAST($r AS BIGINT) AS round", "n_edges_in", "n_tri",
          "n_kept")
      eCur = next
      row
    }.reduce(_ unionByName _).orderBy(col("round")).collect().toSeq
    val delta = GraphRefs.kTrussRounds(cohort(), 3, 2).collect().toSeq
    assert(reenum.head.getAs[Long]("n_tri") > 0L,
      "fixture must actually contain triangles for the pin to mean anything")
    assert(delta === reenum)
    // round 14: the SHIPPING incremental-support form (sup' = sup − dec
    // over the dead triangles' edge credits, removed-keyed lookups
    // instead of kept-keyed semi-joins) must equal both — same oracle,
    // same golden pins
    val inc = GraphOps.kTrussRoundsInc(cohort()).collect().toSeq
    assert(inc === reenum)
  }

  test("incremental k-truss equals the classic delta peel when a second-round peel happens") {
    // two K3s sharing edge {1,2} plus a pendant triangle {5,6,7}: round
    // 1 peels the pendant (supports 1) while the bowtie's shared edge
    // has support 2 — then nothing else peels. To exercise a LATER
    // round's dec path, chain: triangle {1,2,3} + triangle {2,3,4} +
    // edge-only tail {4,5},{5,6}: supports — (2,3)=2, others 1 → round
    // 1 keeps only (2,3): round 2 has 1 edge, 0 triangles, keeps 0 →
    // round 3 empty. The inc form's sup−dec must walk the same ladder.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
      .toDF("pa", "pb")
    val classic = GraphRefs.kTrussRounds(graft.Stage.mat(e), 3, 2).collect().toSeq
    val inc = GraphOps.kTrussRoundsInc(graft.Stage.mat(e)).collect().toSeq
    assert(inc === classic)
    // the fixture must actually peel across two successive rounds
    val kept = classic.map(_.getAs[Long]("n_kept"))
    assert(kept.distinct.size >= 2, s"fixture too static: $kept")
  }

  test("eigencentrality: 3-walk counts on the path graph rank the middle first") {
    // path 1-2-3: v1 = deg = [1,2,1]; v2 = [2,2,2]; v3 = [2,4,2] →
    // middle node saturates at 1e6 ppm, endpoints at half
    val dir = java.nio.file.Files.createTempDirectory("eig_fix").toString
    Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q342_eigencentrality")(spark, dir).collect()
      .map(r => (r.getAs[Long]("v"), r.getAs[Long]("walks3"),
        r.getAs[Long]("score_ppm")))
    assert(out.toSeq === Seq((2L, 4L, 1000000L), (1L, 2L, 500000L),
      (3L, 2L, 500000L)))
  }

  test("reciprocity: one mutual succession pair out of three directed edges") {
    // order 10 lines parts 1,2,3 → edges 1→2, 2→3; order 20 lines
    // parts 3,2 → edge 3→2. Mutual: {2,3}. r = 2/3, ā = 3/6,
    // ρ = (666666 − 500000)·1e6 // 500000 = 333332
    val dir = java.nio.file.Files.createTempDirectory("recip_fix").toString
    def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")
    Seq((10L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "A", "O", ts("2024-01-01")),
      (10L, 2L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "A", "O", ts("2024-01-01")),
      (10L, 3L, 1L, 3, 1.0, 1.0, 0.0, 0.0, "A", "O", ts("2024-01-01")),
      (20L, 3L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "A", "O", ts("2024-01-01")),
      (20L, 2L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "A", "O", ts("2024-01-01")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q348_reciprocity")(spark, dir).collect().head
    assert((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_mutual_pairs"), r.getAs[Long]("r_ppm"),
      r.getAs[Long]("abar_ppm"), r.getAs[Long]("rho_ppm")) ===
      ((3L, 3L, 1L, 666666L, 500000L, 333332L)))
  }

  test("consistent hashing: only the joining node receives moved keys") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q291_consistent_hashing")(spark, dir).collect()
    val per = rows.filter(_.getAs[String]("node") != "zz_moved")
    assert(per.map(_.getAs[String]("node")).sorted.toSeq ===
      Seq("n0", "n1", "n2", "n3", "n4"))
    // the consistent-hashing contract: a join relocates keys ONLY onto
    // the new node; incumbents keep everything they keep
    assert(per.filter(_.getAs[String]("node") != "n4")
      .forall(_.getAs[Long]("n_moved") === 0L))
    val zz = rows.find(_.getAs[String]("node") == "zz_moved").get
    assert(zz.getAs[Long]("share_ppm") < 450000L,
      s"moved ${zz.getAs[Long]("share_ppm")} ppm — should be ~1/5, far under mod-N's ~4/5")
  }

  test("edgeTableMemo: cached re-read equals inline derivation, variants key separately") {
    val dir = java.nio.file.Files.createTempDirectory("memo_fix").toString
    Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 3L), (20L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def li = graft.model.Tables(spark, dir).lineitem
    val inline = GraphOps.partCoPurchaseEdges(li)
      .as[(Long, Long)].collect().toSet
    val first = GraphOps.edgeTableMemo(spark, dir)(GraphOps.partCoPurchaseEdges(li))
      .as[(Long, Long)].collect().toSet
    // second call must hit the spill (passing a poisoned derivation
    // proves the thunk is not re-evaluated)
    val second = GraphOps.edgeTableMemo(spark, dir)(
      sys.error("memo must not re-derive"): org.apache.spark.sql.DataFrame)
      .as[(Long, Long)].collect().toSet
    assert(first === inline && second === inline)
    assert(inline === Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    // a different variant keys its own derivation
    val filtered = GraphOps.edgeTableMemo(spark, dir, "only20")(
      GraphOps.partCoPurchaseEdges(li.filter(col("l_orderkey") === 20L)))
      .as[(Long, Long)].collect().toSet
    assert(filtered === Set((3L, 4L)))
  }

  test("weighted SSSP: hand-computed distances, shortcut beats hop count, H=4 horizon") {
    // path 1-2-3-4-5-6 (weights 2,20,2,2,2 from p_size gaps) plus the
    // heavy shortcut 1-3 (w=21). Source = node 1. d(3)=21 via the
    // shortcut (beats 2+20=22 through node 2); d(5)=25 uses THREE hops
    // via the shortcut, beating the four-hop 26 through node 2 — the
    // min-plus merge must prefer weight over hop count. Node 6 is
    // reachable only at hop 4 via the shortcut (27); within H=4 all six
    // nodes are reached.
    val dir = java.nio.file.Files.createTempDirectory("sssp_fix").toString
    Seq((100L, 1L), (100L, 2L), (200L, 2L), (200L, 3L), (300L, 3L), (300L, 4L),
      (400L, 4L), (400L, 5L), (500L, 5L), (500L, 6L), (600L, 1L), (600L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "p1", "B", "T", 10, 1.0), (2L, "p2", "B", "T", 11, 1.0),
      (3L, "p3", "B", "T", 30, 1.0), (4L, "p4", "B", "T", 31, 1.0),
      (5L, "p5", "B", "T", 32, 1.0), (6L, "p6", "B", "T", 33, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = SparkEntry.queries("q358_sssp_weighted")(spark, dir).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("dist"),
        r.getAs[Long]("n_reached")))
    assert(out.toSeq === Seq((-1L, 0L, 6L), (1L, 0L, 0L), (2L, 2L, 0L),
      (3L, 21L, 0L), (4L, 23L, 0L), (5L, 25L, 0L), (6L, 27L, 0L)))
  }

  test("weighted SSSP: no-edge corpus yields only the n_reached=0 summary row") {
    // single-part baskets produce zero co-purchase pairs; without the
    // NULL-source guard the MIN(u)-over-empty row would survive with a
    // NULL node and the two engines would order it differently
    // (ADVICE r12)
    val dir = java.nio.file.Files.createTempDirectory("sssp_noedge").toString
    Seq((100L, 1L), (200L, 2L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "p1", "B", "T", 10, 1.0), (2L, "p2", "B", "T", 11, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = SparkEntry.queries("q358_sssp_weighted")(spark, dir).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("dist"),
        r.getAs[Long]("n_reached")))
    assert(out.toSeq === Seq((-1L, 0L, 0L)))
  }
}
