package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.text.TextStats

/** Graph analytics over the chain's interaction graph.
  *
  * The reference's domain is a social blockchain — accounts voting on
  * and commenting about content (`handlers/votes.js`,
  * `handlers/comments.js`) — so an influence rank over the
  * account↔content interaction graph is the natural graph-analytics
  * extension of the §2 vote/semi-join family (the metric OpenSearch
  * users compute offline from exactly the tables the reference
  * maintains).
  *
  * Arithmetic discipline: ranks live in INTEGER MICROS end-to-end.
  * Every per-iteration step — contribution `rank div outdeg`, damping
  * `(85·Σ) div 100`, the teleport base — is exact integer arithmetic,
  * so there is no FP summation order to disagree on and the oracle
  * replays all iterations bit-for-bit. (A double-valued PageRank would
  * hit the q109 half-boundary ambiguity through `round(rank/outdeg,6)`
  * — quotients of micro-grid rationals land on rounding boundaries in
  * practice.) The deliberate cost: each division floors away < 1 micro
  * per edge; rank mass decays by ≤ E micros per iteration — a defined,
  * deterministic semantics, not drift.
  *
  * Scale shape (the GraphX-less, pure-DataFrame PageRank): one
  * edges⋈ranks hash join on `src` + one `dst`-keyed map-side-combined
  * aggregate per iteration. At 100 TB: bucket both edges and ranks by
  * the node key so the per-iteration join is shuffle-free (the
  * `sources/Bucketing` discipline); the aggregate's skew on celebrity
  * nodes (Zipf in-degree) is the q43/AQE salted-agg escape; lineage is
  * cut per iteration with localCheckpoint (node-count-sized state, the
  * connectedComponents precedent — not the corpus).
  */
object GraphOps {
  import Relational.QFn

  /** PageRank damping in percent, shared by every rank kernel. */
  private val Damping = 85

  /** Peel rounds of the k-core kernels (q138, q311) and their oracles. */
  private val KCoreRounds = 6

  /** Rounds and triangle-support floor of the k-truss peel (q335). */
  private val TrussRounds = 3
  private val TrussMinSup = 2

  /** Integer-micros PageRank over an already-bidirected, deduplicated
    * edge list (src, dst). Bidirection guarantees every node has
    * out-degree ≥ 1, so there is no dangling-mass term. Returns
    * (node, rank_m, rank_r) after `iters` synchronous iterations from
    * a uniform `1e6 div N` start.
    */
  def pageRankMicros(edges: DataFrame, iters: Int = 3): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // ew feeds every iteration — materialize once (Stage.mat). The
    // per-iteration frontier stays lineage-chained: at iters=3 the
    // plan is 3 join+agg pairs deep, which pipelines as ONE job;
    // checkpointing every round would insert a job barrier per
    // iteration for no recovery benefit at this depth (cut lineage
    // per round only for deep/open-ended iteration — the
    // connectedComponents regime).
    val ew = graft.Stage.mat(edges.join(deg, Seq("src")))
    val n = deg.count() // node count — driver scalar, index-sized
    if (n == 0)          // empty graph: the base/start divisions below
      return edges       // would be driver ÷0; rank table is just empty
        .select(col("src").as("node"), lit(0L).as("rank_m"), lit(0.0).as("rank_r"))
        .limit(0)
    val base = (100L - Damping) * 1000000L / (100L * n)
    var ranks = deg.select(col("src").as("node"), lit(1000000L / n).as("rank_m"))
    for (_ <- 1 to iters) {
      ranks = ew.join(ranks, ew("src") === ranks("node"))
        .select(col("dst"), expr("rank_m div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          (lit(base) + expr(s"($Damping * s) div 100")).as("rank_m"))
    }
    ranks.select(col("node"), col("rank_m"),
      (col("rank_m").cast("double") / lit(1000000.0)).as("rank_r"))
  }

  /** Integer-micros PageRank over an arbitrary DIRECTED, deduplicated
    * edge list (src, dst) — the general form of [[pageRankMicros]], which
    * requires bidirection to guarantee outdeg ≥ 1. Here the node universe
    * is src ∪ dst and nodes with no out-edges (dangling: sinks, leaf
    * pages, items that never act) redistribute their rank mass uniformly,
    * the standard correction that keeps total mass ~1 instead of leaking
    * it every iteration:
    *
    *   rank'(v) = base + (damp · (Σ_{u→v} rank_m(u) div outdeg(u)
    *                               + dang_m div N)) div 100
    *
    * where dang_m = Σ rank_m over dangling nodes, computed IN-PLAN as a
    * one-row aggregate broadcast into the update — never a per-iteration
    * driver action. All divisions are integer floors (micros discipline,
    * see the object scaladoc): each iteration loses < 1 micro per edge
    * plus < 1 micro per node to flooring — defined, deterministic, and
    * replayed bit-for-bit by the oracle's `//`.
    *
    * Each iteration's rank table is materialized (Stage.mat): unlike the
    * bidirected variant, the frontier here has TWO consumers — the
    * contribution join and the dangling-mass aggregate — so a
    * lineage-chained loop would recompute each frontier 2^i times.
    * State is node-count-sized, the connectedComponents regime. This is
    * [[pageRankWeightedMicros]] with every weight 1.
    */
  def pageRankDirectedMicros(edges: DataFrame, iters: Int = 3): DataFrame =
    pageRankWeightedMicros(edges.select(col("src"), col("dst"), lit(1L).as("w")), iters)

  /** TrustRank / personalized PageRank (Gyöngyi et al. 2004) — the
    * seed-biased variant of [[pageRankDirectedMicros]] and the standard
    * corpus-curation technique it exists for: seed a small trusted set,
    * propagate trust over the link/interaction graph, and use the
    * converged score to rank or filter the rest. Differences from the
    * uniform variant, both in exact integer micros:
    *  - the teleport base goes ONLY to seeds: `(100−damp)·1e6 div
    *    (100·|S|)` per seed, 0 elsewhere;
    *  - dangling mass redistributes to the SEEDS, not all nodes
    *    (`dang div |S|` added inside the damped term for seed nodes);
    *  - the start vector is `1e6 div |S|` on seeds, 0 elsewhere.
    * Contributions are weighted: src→dst carries `rank_m·w div W(src)`
    * with `W(src) = Σ_out w`, so `edges` must carry a `w` column
    * (unweighted callers set w = 1). With every node seeded this is the
    * weighted directed PageRank term for term, so [[pageRankWeightedMicros]]
    * and [[pageRankDirectedMicros]] run this one update. Plan shape:
    * one contribution join + agg, one one-row dangling aggregate,
    * per-iteration Stage.mat; the seed set rides as a broadcast
    * membership flag. `seeds` must be a DataFrame with a `node` column,
    * a subset of the graph's nodes, deduplicated.
    */
  def trustRankMicros(edges: DataFrame, seeds: DataFrame,
                      iters: Int = 3): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    val nodes = graft.Stage.mat(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct())
    val deg = graft.Stage.mat(e.groupBy(col("src")).agg(sum(col("w")).as("outw")))
    val ew = graft.Stage.mat(e.join(deg, Seq("src")))
    val sd = graft.Stage.mat(seeds.select(col("node")).distinct())
    val ns = sd.count() // seed count — driver scalar, index-sized
    if (ns == 0)
      return e.select(col("src").as("node"), lit(0L).as("rank_m"), lit(0.0).as("rank_r"))
        .limit(0)
    val base = (100L - Damping) * 1000000L / (100L * ns)
    val degNodes = deg.select(col("src").as("node"))
    val flagged = graft.Stage.mat(nodes.join(
        sd.select(col("node"), lit(true).as("is_seed")), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed")))
    var ranks = flagged.select(col("node"),
      when(col("is_seed"), lit(1000000L / ns)).otherwise(lit(0L)).as("rank_m"))
    for (_ <- 1 to iters) {
      val r = graft.Stage.mat(ranks)
      val contrib = ew.join(r, ew("src") === r("node"))
        .select(col("dst"), expr("(rank_m * w) div outw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"), col("s"))
      val dang = r.join(degNodes, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("rank_m")), lit(0L)).as("dang_m"))
      ranks = flagged.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            expr(s"($Damping * (coalesce(s, 0L) + " +
              s"(case when is_seed then dang_m div ${ns}L else 0L end))) div 100")).as("rank_m"))
    }
    ranks.select(col("node"), col("rank_m"),
      (col("rank_m").cast("double") / lit(1000000.0)).as("rank_r"))
  }

  /** The declared interaction graph: user↔item edges from the event
    * stream (item = the `props.k` entity, the q21 extraction), distinct
    * then mirrored.
    */
  /** Distinct (user, item) interaction pairs as raw longs. user_id IS
    * NOT NULL: Spark's concat null-propagates while DuckDB's skips
    * nulls ('u:'), so a null row must never reach the edge concat
    * downstream. The $.k cast is lenient in Spark (null on non-
    * numeric) — TRY_CAST is the DuckDB mirror. `maxUser` is the
    * fixed-cohort bound shared by q158/q168 (constant wedge work at
    * every scale factor); ONE definition so every declared query that
    * says "the interaction graph" means the same graph.
    */
  private[analytics] def userItemPairs(s: SparkSession, dir: String,
      maxUser: Option[Long] = None): DataFrame = {
    val base = Tables(s, dir).events.filter(col("user_id").isNotNull)
    maxUser.fold(base)(m => base.filter(col("user_id") <= m))
      .select(col("user_id").as("u"),
        coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L))
          .as("i"))
      .distinct()
  }

  /** Public handle on the declared interaction graph — the ScaleSmoke
    * replication harness times the graph battery over N disjoint copies
    * of exactly this graph.
    */
  def interactionGraph(s: SparkSession, dir: String): DataFrame =
    interactionEdges(s, dir)

  private def interactionEdges(s: SparkSession, dir: String,
      maxUser: Option[Long] = None): DataFrame = {
    val inter = userItemPairs(s, dir, maxUser)
      .select(concat(lit("u:"), col("u").cast("string")).as("a"),
        concat(lit("i:"), col("i").cast("string")).as("b"))
    inter.select(col("a").as("src"), col("b").as("dst"))
      .union(inter.select(col("b").as("src"), col("a").as("dst")))
  }

  /** DuckDB twin of [[interactionEdges]]: CTEs `inter(a, b)` and the
    * mirrored edge list `edges(src, dst)` under the caller's name. */
  private def interactionEdgesSql(edges: String, maxUser: Option[Long] = None): String = s"""inter AS (
        SELECT DISTINCT concat('u:', CAST(user_id AS VARCHAR)) AS a,
               concat('i:', CAST(COALESCE(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT), 0) AS VARCHAR)) AS b
        FROM events WHERE user_id IS NOT NULL${maxUser.fold("")(m => s" AND user_id <= $m")}),
      $edges AS (SELECT a AS src, b AS dst FROM inter
            UNION ALL SELECT b AS src, a AS dst FROM inter)"""

  /** Distinct DIRECTED user→item action edges (`u:` → `i:` via
    * props.$.k) — the shared derivation of q127/q132/q137, memoized
    * per corpus under variant "interaction_directed" (VERDICT r12 ask
    * #8: these were the last inline re-derivers after the round-12
    * memo; ProbeEdges measured the interaction-graph derivation at
    * ~0.4 s CPU per execution, paid again every bench pass).
    */
  private[graft] def interactionDirectedEdges(s: SparkSession, dir: String): DataFrame =
    userItemPairs(s, dir)
      .select(concat(lit("u:"), col("u").cast("string")).as("src"),
        concat(lit("i:"), col("i").cast("string")).as("dst"))

  /** q136's WEIGHTED user→item edges: w = interaction multiplicity
    * (events counted, not distinct), memoized under variant
    * "interaction_weighted".
    */
  private[graft] def interactionWeightedEdges(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events.filter(col("user_id").isNotNull)
      .select(concat(lit("u:"), col("user_id").cast("string")).as("src"),
        concat(lit("i:"),
          coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L))
            .cast("string")).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))

  /** Oracle inputs of the unweighted directed ranks (q127, q132): the
    * distinct user→item edges `inter` ([[interactionDirectedEdges]]),
    * `nodes`, out-degrees `deg(src, outdeg)` and `ew`, edges with their
    * source's out-degree. */
  private val directedRankEdgesSql: String = s"""inter AS (
        SELECT DISTINCT concat('u:', CAST(user_id AS VARCHAR)) AS src,
               concat('i:', CAST(COALESCE(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT), 0) AS VARCHAR)) AS dst
        FROM events WHERE user_id IS NOT NULL),
      nodes AS (SELECT src AS node FROM inter UNION SELECT dst FROM inter),
      deg AS (SELECT src, count(*) AS outdeg FROM inter GROUP BY src),
      ew AS (SELECT inter.src, inter.dst, deg.outdeg FROM inter JOIN deg USING (src))"""

  /** The dangling mass `d$i` and contribution sums `s$i` of one unrolled
    * directed-rank iteration for the DuckDB oracle, `contrib` being the
    * per-edge term over the previous ranks `r` and the edge table `ew`.
    */
  private def rankInputsSql(i: Int, contrib: String): String = {
    val prev = s"r${i - 1}"
    s"""d$i AS (SELECT COALESCE(SUM(r.rank_m), 0) AS dang
              FROM $prev r LEFT JOIN deg ON r.node = deg.src
              WHERE deg.src IS NULL),
      s$i AS (SELECT ew.dst AS node, SUM($contrib) AS s
              FROM ew JOIN $prev r ON ew.src = r.node GROUP BY ew.dst)"""
  }

  /** Iterations 1..3 of directed PageRank unrolled for the DuckDB oracle:
    * the floored update of [[pageRankWeightedMicros]] over `nodes` and the
    * one-row `p(n)`, token for token.
    */
  private def prItersSql(contrib: String): String = (1 to 3).map { i =>
    s"""${rankInputsSql(i, contrib)},
      r$i AS (SELECT nodes.node,
                CAST((15 * 1000000) // (100 * p.n)
                     + (85 * (COALESCE(s$i.s, 0) + d$i.dang // p.n)) // 100 AS BIGINT) AS rank_m
              FROM nodes LEFT JOIN s$i ON nodes.node = s$i.node
              CROSS JOIN d$i CROSS JOIN p)"""
  }.mkString(",\n      ")

  /** Weighted directed PageRank — the [[pageRankDirectedMicros]] update
    * with per-edge weights: the contribution src→dst is
    * `rank_m·w div W(src)` where `W(src) = Σ_out w`, so a user's rank
    * splits across targets in proportion to interaction INTENSITY
    * rather than mere adjacency (w ≡ 1 recovers the uniform variant
    * term for term). Same integer-micros discipline; dangling and
    * teleport handling identical to the uniform form. `rank_m·w` runs
    * in longs — exact to w ≲ 9·10¹² at micro ranks; swap the
    * contribution product to DECIMAL(38,0) past that (the basketLift
    * overflow note).
    */
  def pageRankWeightedMicros(edges: DataFrame, iters: Int = 3): DataFrame =
    trustRankMicros(edges,
      edges.select(col("src").as("node")).union(edges.select(col("dst").as("node"))).distinct(),
      iters)

  /** HITS hubs & authorities (Kleinberg) over a directed edge list, in
    * integer micros: auth(i) = Σ_{u→i} hub(u), hub(u) = Σ_{u→i} auth(i),
    * each side L∞-normalized per half-iteration (`score·1e6 div max` —
    * the power-iteration no-sqrt discipline; HITS *is* power iteration
    * on AᵀA / AAᵀ, so the L∞ scaling converges to the same principal
    * directions). On the user→item bipartite graph hubs rank CURATOR
    * users and authorities rank CONSENSUS items — a different signal
    * than PageRank's mass flow. Scale shape: two join+agg pairs per
    * iteration, each keyed on a graph-node column; scores are
    * node-count-sized, Stage.mat'd per half-step because each feeds the
    * next update AND the normalization max.
    */
  def hitsMicros(edges: DataFrame): DataFrame = {
    val e = graft.Stage.mat(edges.select(col("src"), col("dst")).distinct())
    var hubs = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("h"))
    var auths = e.select(col("dst").as("node")).distinct()
      .select(col("node"), lit(0L).as("a"))
    for (_ <- 1 to 2) {
      val hb = graft.Stage.mat(hubs)
      val araw = e.join(hb, e("src") === hb("node"))
        .groupBy(col("dst")).agg(sum(col("h")).as("ar"))
      val amax = araw.agg(greatest(max(col("ar")), lit(1L)).as("m"))
      auths = graft.Stage.mat(araw.crossJoin(broadcast(amax))
        .select(col("dst").as("node"), expr("(ar * 1000000) div m").as("a")))
      val hraw = e.join(auths, e("dst") === auths("node"))
        .groupBy(col("src")).agg(sum(col("a")).as("hr"))
      val hmax = hraw.agg(greatest(max(col("hr")), lit(1L)).as("m"))
      hubs = graft.Stage.mat(hraw.crossJoin(broadcast(hmax))
        .select(col("src").as("node"), expr("(hr * 1000000) div m").as("h")))
    }
    hubs.select(col("node"), lit("hub").as("kind"), col("h").as("score_m"))
      .union(auths.select(col("node"), lit("auth").as("kind"), col("a").as("score_m")))
      .select(col("node"), col("kind"), col("score_m"),
        (col("score_m").cast("double") / lit(1000000.0)).as("score_r"))
  }

  /** One unrolled HITS iteration for the DuckDB oracle. */
  private def hitsIterSql(i: Int): String = {
    val ph = if (i == 1) "h0" else s"h${i - 1}"
    s"""a${i}r AS (SELECT e.dst AS node, SUM(h.h) AS ar
              FROM e JOIN $ph h ON e.src = h.node GROUP BY e.dst),
      a${i}m AS (SELECT GREATEST(MAX(ar), 1) AS m FROM a${i}r),
      a$i AS (SELECT node, CAST((ar * 1000000) // m AS BIGINT) AS a FROM a${i}r, a${i}m),
      h${i}r AS (SELECT e.src AS node, SUM(a.a) AS hr
              FROM e JOIN a$i a ON e.dst = a.node GROUP BY e.src),
      h${i}m AS (SELECT GREATEST(MAX(hr), 1) AS m FROM h${i}r),
      h$i AS (SELECT node, CAST((hr * 1000000) // m AS BIGINT) AS h FROM h${i}r, h${i}m)"""
  }

  /** Iterations 1..3 of TrustRank unrolled for the DuckDB oracle — the
    * [[trustRankMicros]] update with seed-gated base and dangling terms.
    */
  private def trItersSql: String = (1 to 3).map { i =>
    s"""${rankInputsSql(i, "r.rank_m // ew.outdeg")},
      r$i AS (SELECT fn.node,
                CAST(CASE WHEN fn.is_seed THEN (15 * 1000000) // (100 * ns.k) ELSE 0 END
                     + (85 * (COALESCE(s$i.s, 0)
                        + CASE WHEN fn.is_seed THEN d$i.dang // ns.k ELSE 0 END)) // 100
                     AS BIGINT) AS rank_m
              FROM fn LEFT JOIN s$i ON fn.node = s$i.node
              CROSS JOIN d$i CROSS JOIN ns)"""
  }.mkString(",\n      ")

  /** Synchronous k-core peel: `rounds` fixed rounds of "drop every node
    * whose degree among surviving nodes is < k" over a mirrored,
    * deduplicated edge list. Fixed rounds (not run-to-fixpoint) keep
    * the computation engine-portable — both engines execute exactly
    * `rounds` peels and emit a convergence certificate
    * (|alive| unchanged over the last round) alongside the membership,
    * so the declared query proves on-fixture convergence instead of
    * assuming it. Returns (members: (node, d) with d = degree inside
    * the final surviving subgraph, converged: one-row boolean).
    *
    * DELTA form (the q257 lesson applied to the peel — VERDICT r9
    * ask #4, the "degree-bucket" variant): the edge list is
    * materialized ONCE and never rewritten; per-node degrees are the
    * evolving state, and each round only DECREMENTS them by the edges
    * incident to that round's newly-dead nodes:
    *
    *   dead_i  = alive nodes with current degree < k
    *   dec_i   = edges whose dst ∈ dead_i, counted per src
    *   deg_i   = deg_{i-1} − dec_i   (over the surviving nodes)
    *
    * Per-round cost is |edges incident to dead_i| + a node-table join,
    * instead of the classic peel's three full-edge-list passes (degree
    * agg + two semi-joins) — after round 1 the dead set is typically
    * tiny, so AQE broadcasts it and the edge list is never reshuffled.
    * Round-for-round identical survivor sets by induction: the running
    * degree equals |nbrs ∩ alive| exactly because the dead sets are
    * disjoint and each neighbor's death decrements once. Same output
    * as the classic peel the oracle unrolls (test reference
    * GraphRefs.kCorePeel; GraphOpsSpec pins equality, PERF.md records
    * the measured ratio).
    */
  def kCorePeelDelta(edges: DataFrame, k: Int, rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 2, "need >= 2 rounds for the convergence certificate")
    val e = graft.Stage.mat(edges.select(col("src"), col("dst")))
    var cur = graft.Stage.mat(
      e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .select(col("src").as("node"), col("d")))
    var prev: DataFrame = null
    var i = 1
    var done = false
    while (i <= rounds && !done) {
      val dead = cur.filter(col("d") < k).select(col("node"))
      // fixpoint early-exit (round 13): once no node is below k, every
      // remaining round recomputes cur unchanged (dec = ∅) — so stop
      // scheduling them. The probe is one scan of the materialized
      // node-sized state; the skipped rounds were each a full
      // node-table join + barrier. Output-identical by the same
      // induction as the delta form itself: at the fixpoint
      // alive = cur, so the n_prev certificate captured here equals
      // n_final and converged reads true — exactly what the full
      // round-for-round run reports (GraphOpsSpec pins delta ≡ classic
      // on fixtures that exercise both the converging and the
      // non-converging path).
      if (dead.isEmpty) {
        if (prev == null || i <= rounds - 1)
          prev = cur.agg(count(lit(1)).as("n_prev"))
        done = true
      } else {
        val alive = cur.filter(col("d") >= k)
        if (i == rounds - 1) prev = alive.agg(count(lit(1)).as("n_prev"))
        val dec = e.join(dead.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .groupBy(col("src")).agg(count(lit(1)).as("dec"))
        cur = graft.Stage.mat(
          alive.join(dec.select(col("src").as("node"), col("dec")), Seq("node"), "left")
            .select(col("node"),
              (col("d") - coalesce(col("dec"), lit(0L))).as("d")))
      }
      i += 1
    }
    val conv = cur.agg(count(lit(1)).as("n_final")).crossJoin(broadcast(prev))
      .select((col("n_final") === col("n_prev")).as("converged"))
    (cur, conv)
  }

  /** Warm-started coreness ladder (q311's core): for each k in the
    * ascending `ladder`, a fixed-round [[kCorePeelDelta]] over the
    * PREVIOUS level's core subgraph (k-core ⊆ k'-core for k ≥ k', so
    * each level's input shrinks monotonically and the expensive low-k
    * levels never rerun). Output: (node, coreness = max ladder level
    * containing the node, one converged_k<k> certificate column per
    * level). GraphOpsSpec pins the shell separation on a hand graph.
    */
  def corenessLadder(edges: DataFrame, ladder: Seq[Int]): DataFrame = {
    require(ladder == ladder.sorted && ladder.nonEmpty,
      "ladder must ascend: each level warm-starts from the previous core")
    var e = graft.Stage.mat(edges.select(col("src"), col("dst")))
    val levels = ladder.map { k =>
      val (m, conv) = kCorePeelDelta(e, k, KCoreRounds)
      val mm = graft.Stage.mat(m.select(col("node")))
      e = graft.Stage.mat(
        e.join(mm.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(mm.select(col("node").as("dst")), Seq("dst"), "left_semi"))
      (k, mm, conv)
    }
    val coreness = levels.map { case (k, m, _) =>
        m.select(col("node"), lit(k.toLong).as("k"))
      }.reduce(_ unionByName _)
      .groupBy(col("node")).agg(max(col("k")).as("coreness"))
    levels.foldLeft(coreness) { case (df, (k, _, conv)) =>
      df.crossJoin(broadcast(conv.select(col("converged").as(s"converged_k$k"))))
    }.orderBy(col("node"))
  }

  /** One unrolled k-core chain for the DuckDB oracle: CTEs
    * `{p}a1..{p}aR` (survivors), `{p}e1..{p}eR` (restricted edges),
    * `{p}d` (final in-core degrees), `{p}c` (convergence boolean) —
    * token-for-token the classic peel rounds (test reference
    * GraphRefs.kCorePeel) over base edges `e0`.
    */
  private def kcoreSql(k: Int, p: String,
                       base: String = "e0"): String = {
    // AS MATERIALIZED: DuckDB inlines plain CTEs, so a chained peel
    // would re-expand the whole upstream chain at every reference —
    // exponential plan growth (q311's 4-level warm-started ladder hit
    // the file-handle limit through repeated base re-scans). Each round
    // is evaluated once instead; results are identical.
    val chain = (1 to KCoreRounds).map { i =>
      val pe = if (i == 1) base else s"${p}e${i - 1}"
      s"""${p}a$i AS MATERIALIZED (SELECT src AS node FROM $pe GROUP BY src HAVING count(*) >= $k),
      ${p}e$i AS MATERIALIZED (SELECT e.src, e.dst FROM $pe e
                  JOIN ${p}a$i x ON e.src = x.node
                  JOIN ${p}a$i y ON e.dst = y.node)"""
    }.mkString(",\n      ")
    s"""$chain,
      ${p}d AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
                FROM ${p}e$KCoreRounds GROUP BY src),
      ${p}c AS (SELECT (SELECT count(*) FROM ${p}a$KCoreRounds)
                     = (SELECT count(*) FROM ${p}a${KCoreRounds - 1}) AS conv)"""
  }

  /** Degree assortativity of a mirrored, deduplicated edge list, in
    * exact integer micros (Newman 2002, the Pearson correlation of
    * degrees across edge endpoints — positive: hubs link hubs;
    * negative: hubs link leaves, the usual social/bipartite shape).
    *
    * No-sqrt discipline (the HITS/PageRank precedent): instead of
    * r = cov/√(varx·vary) this emits sign(cov) plus
    * r² = cov²·1e6 div (varx·vary), with every moment first floored to
    * micros (`1e6·Σ div m` — divide-early keeps all magnitudes inside
    * 128-bit products even at corpus edge counts; the quadratic terms
    * run in DECIMAL(38,0)/HUGEINT). One defined floor per moment, so
    * the oracle replays every intermediate to the micro.
    *
    * Scale shape: degree table is node-count-sized; the two joins that
    * attach (j, k) to each edge are keyed on the node column (bucket
    * discipline → shuffle-free); the sums are one map-side-combined
    * one-row aggregate. The raw sums sxy/sxx stay in longs — exact to
    * degree·√m ≲ 3e9 (far beyond any real interaction graph's
    * per-partition load once bucketed).
    */
  /** Synchronous label propagation (Raghavan et al. 2007, the
    * deterministic synchronous variant): every node starts labeled
    * with itself; each iteration relabels every node with the MODE of
    * its neighbors' labels, ties broken by the lexicographically
    * smallest label. `iters` fixed synchronous rounds make the whole
    * computation an exact unrollable recurrence (the PageRank oracle
    * discipline) instead of the paper's randomized-order asynchrony —
    * same communities on cleanly-separated graphs, replayable
    * everywhere. Input must be mirrored (undirected); every node then
    * appears as some edge's dst, so no node is ever left unlabeled.
    * Returns (node, label) after the final round.
    *
    * Scale shape per iteration: one edges⋈labels hash join on the
    * node key (bucketing ⇒ shuffle-free, as pageRankMicros) + one
    * (node, label) map-side-combined count + a per-node top-1 window
    * whose partitions are neighbor-LABEL-sized (≤ degree; celebrity
    * skew → the q43 salted two-phase escape). State is one label per
    * node — node-count-sized, never corpus-sized.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 3): DataFrame = {
    val e = graft.Stage.mat(edges) // feeds every iteration
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      val contrib = e.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node")).orderBy(col("cnt").desc, col("label"))
      labels = contrib.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("node"), col("label"))
    }
    labels
  }

  /** One unrolled synchronous-LPA iteration for the DuckDB oracle —
    * token-for-token the [[labelPropagation]] mode-with-min-tie update.
    */
  private def lpaIterSql(i: Int): String = {
    val prev = s"l${i - 1}"
    s"""c$i AS (SELECT e.dst AS node, l.label, count(*) AS cnt
              FROM edges e JOIN $prev l ON e.src = l.node
              GROUP BY e.dst, l.label),
      l$i AS (SELECT node, label FROM (
               SELECT node, label,
                      row_number() OVER (PARTITION BY node
                        ORDER BY cnt DESC, label) AS rn
               FROM c$i) WHERE rn = 1)"""
  }

  /** Per-node k-hop neighborhood sizes (k ≤ 2): `r1` = distinct direct
    * neighbors, `r2` = distinct nodes within distance ≤ 2, self
    * excluded — the local-influence profile (a user whose r2/r1 ratio
    * explodes sits on a hub; an item whose r2 stalls is an isolated
    * pocket). Frontier expansion with LEVEL-WISE dedup: the 2-hop
    * frontier is `distinct` BEFORE counting, so the quadratic
    * mid-node fan-in collapses once per (src, dst) — the standard
    * BFS-level discipline that keeps k-hop from multiplying path
    * counts. Two self-joins on the node key (bucketable ⇒ shuffle-
    * free), distinct + count aggregates. The wedge join itself is
    * still Σ deg² rows BEFORE the distinct — on hub-dense graphs the
    * caller must bound it (hub cap, neighbor sampling, or a bounded
    * subgraph; see the q158 scaladoc) because no downstream dedup can
    * un-pay an exploded shuffle.
    */
  def kHopReach(edges: DataFrame): DataFrame = {
    val e = graft.Stage.mat(edges.select(col("src"), col("dst")).distinct())
    val hop1 = e // (src, dst) distinct
    val hop2 = e.select(col("src"), col("dst").as("mid"))
      .join(e.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .select(col("src"), col("dst"))
    val within2 = hop1.unionAll(hop2).distinct()
      .filter(col("src") =!= col("dst"))
    val r1 = hop1.filter(col("src") =!= col("dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("r1"))
    val r2 = within2.groupBy(col("src")).agg(count(lit(1)).as("r2"))
    r1.join(r2, Seq("src"), "full_outer")
      .select(col("src").as("node"),
        coalesce(col("r1"), lit(0L)).as("r1"),
        coalesce(col("r2"), lit(0L)).as("r2"))
  }

  def degreeAssortativityMicros(edges: DataFrame): DataFrame = {
    val e = graft.Stage.mat(edges.select(col("src"), col("dst")))
    val deg = graft.Stage.mat(e.groupBy(col("src")).agg(count(lit(1)).as("d")))
    e.join(deg.select(col("src"), col("d").as("j")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("k")), Seq("dst"))
      .agg(count(lit(1)).as("m"), sum(col("j")).as("sx"), sum(col("k")).as("sy"),
        sum(col("j") * col("k")).as("sxy"), sum(col("j") * col("j")).as("sxx"),
        sum(col("k") * col("k")).as("syy"))
      .selectExpr("m",
        "(1000000 * sx) div greatest(m, 1) AS ex_m",
        "(1000000 * sy) div greatest(m, 1) AS ey_m",
        "(1000000 * sxy) div greatest(m, 1) AS exy_m",
        "(1000000 * sxx) div greatest(m, 1) AS exx_m",
        "(1000000 * syy) div greatest(m, 1) AS eyy_m")
      .selectExpr("m",
        "exy_m - (CAST(ex_m AS DECIMAL(38,0)) * ey_m) DIV 1000000 AS cov_m",
        "exx_m - (CAST(ex_m AS DECIMAL(38,0)) * ex_m) DIV 1000000 AS varx_m",
        "eyy_m - (CAST(ey_m AS DECIMAL(38,0)) * ey_m) DIV 1000000 AS vary_m")
      .selectExpr("m AS n_edges", "cov_m", "varx_m", "vary_m",
        "CAST(sign(cov_m) AS BIGINT) AS r_sign",
        """CAST((CAST(cov_m AS DECIMAL(38,0)) * cov_m * 1000000)
            DIV greatest(CAST(varx_m AS DECIMAL(38,0)) * vary_m, 1) AS BIGINT) AS r2_micros""")
  }

  /** Newman modularity of a community partition, in integer ppm.
    * Over a MIRRORED edge list (each undirected edge appears twice —
    * the house graph convention), with m2 = |directed rows| = 2m:
    *
    *   Q = Σ_c [ e2_c/m2 − (d_c/m2)² ]
    *
    * where e2_c counts directed rows with BOTH endpoints in community
    * c (= 2·intra-edges) and d_c = Σ_{v∈c} deg(v). Per community the
    * two terms ship separately as NONNEGATIVE truncating quotients —
    * `intra_ppm = (1e6·e2_c) div m2` and `expected_ppm =
    * (1e6·d_c²) div m2²` (DECIMAL(38,0) product) — and the signed
    * contribution/total are SUBTRACTIONS of those (exact), never a
    * negative-operand DIV, because Spark `div` truncates toward zero
    * while a floor-division engine would disagree on negatives.
    *
    * Scale shape: degree agg + two node-keyed label joins + a
    * label-keyed agg — every key is a graph-node or community column
    * (bucketable ⇒ shuffle-free under the q117 layout); state is one
    * label per node and one row per community. The zz total row rides
    * a single-row aggregate.
    */
  def modularityPpm(edges: DataFrame, communities: DataFrame): DataFrame = {
    val e = graft.Stage.mat(edges.select(col("src"), col("dst")))
    val lab = graft.Stage.mat(communities.select(col("node"), col("label")))
    val m2df = e.agg(count(lit(1)).as("m2"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val dc = deg.join(lab.withColumnRenamed("node", "src"), Seq("src"))
      .groupBy(col("label"))
      .agg(sum(col("d")).as("d_c"), count(lit(1)).as("n_members"))
    val intra = e
      .join(lab.select(col("node").as("src"), col("label").as("la")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("label").as("lb")), Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("e2_c"))
    val per = dc.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(m2df))
      .selectExpr("label", "n_members", "coalesce(e2_c, 0L) AS e2_c", "d_c",
        "(1000000 * coalesce(e2_c, 0L)) DIV greatest(m2, 1) AS intra_ppm",
        """CAST((1000000 * CAST(d_c AS DECIMAL(38,0)) * d_c)
            DIV greatest(CAST(m2 AS DECIMAL(38,0)) * m2, 1) AS BIGINT) AS expected_ppm""")
      .withColumn("q_ppm", col("intra_ppm") - col("expected_ppm"))
      .transform(graft.Stage.mat)
    val zz = per.agg(count(lit(1)).as("nc"), sum(col("n_members")).as("nm"),
        sum(col("e2_c")).as("se"), sum(col("d_c")).as("sd"),
        sum(col("intra_ppm")).as("si"), sum(col("expected_ppm")).as("sx"))
      .selectExpr("'zz_total' AS label", "nm AS n_members", "se AS e2_c",
        "sd AS d_c", "si AS intra_ppm", "sx AS expected_ppm",
        "si - sx AS q_ppm")
    per.unionByName(zz)
      .orderBy(col("n_members").desc, col("label"))
  }

  /** TextRank keywords (Mihalcea & Tarau 2004) as uniform PageRank
    * over the graph of words: candidate tokens (lowercased,
    * length ≥ 4 — a deterministic, list-free stand-in for the
    * paper's POS filter) are linked when ADJACENT in the filtered
    * token sequence, mirrored, deduplicated, then ranked by
    * [[pageRankMicros]] (mirrored graph ⇒ no dangling mass, the q117
    * precondition holds by construction). Top-30 words by rank.
    *
    * Scale shape: tokenize+filter is one projection pass; the pair
    * explode is ≤ tokens-per-doc rows; edges collapse by DISTINCT to
    * vocabulary-adjacency size (vocab², bounded far below corpus
    * size); the PageRank joins then run on the word key — bucketable.
    * No per-doc state survives the edge distinct.
    */
  def textRankKeywords(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      filter(TextStats.tokens(lower(col("text"))),
        x => length(x) >= 4).as("w"))
    val pairs = toks.select(explode(expr(
        """CASE WHEN size(w) >= 2
             THEN transform(sequence(1, size(w) - 1),
                            i -> struct(w[i-1] AS a, w[i] AS b))
             ELSE array() END""")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    pageRankMicros(edges, 3)
      .select(col("node").as("word"), col("rank_m"))
      .orderBy(col("rank_m").desc, col("word"))
      .limit(30)
  }

  /** One unrolled uniform-PageRank iteration over the `edges`/`deg`/`p`
    * CTEs for the DuckDB oracle — token-for-token [[pageRankMicros]]'s
    * contribution/damping arithmetic (mirrored graph: no dangling
    * term).
    */
  private def prUniformIterSql(i: Int): String = {
    val prev = s"r${i - 1}"
    s"""r$i AS (SELECT e.dst AS node,
                CAST((15 * 1000000) // (100 * p.n)
                     + (85 * SUM(r.rank_m // d.outdeg)) // 100 AS BIGINT) AS rank_m
              FROM edges e JOIN $prev r ON e.src = r.node
              JOIN deg d ON e.src = d.src CROSS JOIN p
              GROUP BY e.dst, p.n)"""
  }

  /** Distinct undirected part co-purchase edges (pa < pb) from the
    * lineitem baskets — the q257 basket-bounded HOF pair generation
    * (one groupBy to the ≤7-part sorted basket array, per-basket C(k,2)
    * pairs, global distinct; no self-join), shared by the triangle
    * census and the rich-club audit.
    */
  private[graft] def partCoPurchaseEdges(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o")).agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"""))
        .as("pr"))
      .select(col("pr.pa"), col("pr.pb")).distinct()

  /** DuckDB twin of [[partCoPurchaseEdges]] plus node degrees: CTEs
    * `li`, the co-purchase edges `e(pa, pb)` and `deg(v, d)`. */
  private val partDegreesSql: String = """li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d
              FROM (SELECT pa AS v FROM e UNION ALL SELECT pb AS v FROM e)
              GROUP BY v)"""

  /** q358's weighted both-direction adjacency: the memoized co-purchase
    * edge table joined to part sizes (w = |Δp_size| + 1), unioned both
    * ways. Memoized itself under variant "copurchase_wadj" (ProbeEdges:
    * the join+union+checkpoint costs 2.2 s CPU per run at sf0.1 — ~15%
    * of the query's idle bill; q358 measured 14.8 → 9.6 s CPU idle
    * after the memo, band caveat noted in PERF.md).
    */
  private[graft] def ssspWeightedAdj(s: SparkSession, dir: String): DataFrame = {
    val e = edgeTableMemo(s, dir)(partCoPurchaseEdges(Tables(s, dir).lineitem))
    val sz = Tables(s, dir).part
      .selectExpr("p_partkey", "CAST(p_size AS BIGINT) AS sz")
    val ew = e
      .join(sz.selectExpr("p_partkey AS pa", "sz AS sa"), Seq("pa"))
      .join(sz.selectExpr("p_partkey AS pb", "sz AS sb"), Seq("pb"))
      .selectExpr("pa", "pb", "abs(sa - sb) + 1 AS w")
    ew.selectExpr("pa AS u", "pb AS v", "w")
      .unionByName(ew.selectExpr("pb AS u", "pa AS v", "w"))
  }

  /** Per-corpus memo of a derived edge table, spilled to parquet ONCE
    * per (corpus, variant, input snapshot) and re-read thereafter
    * ([[graft.Memo.spilled]], kind "edges"; `inputs` names the fixture
    * tables the derivation reads). Five of the suite's top-6 CPU
    * queries each re-derived the SAME co-purchase edge table before
    * their kernel; ProbeEdges measured the materialized derivation at
    * 3.3 s CPU per query — 19% of the family's 108.6 s bill; the
    * events-derived interaction graph measured 0.41 s CPU × 6 re-
    * derivations, the same share of its smaller bill.
    *
    * This is also the 100 TB shape: a production graph battery
    * materializes the distinct edge table once per corpus snapshot and
    * runs every kernel against it. The parquet barrier also subsumes
    * the `Stage.mat` localCheckpoint the call sites used to need (no
    * persistent blocks → the bench's plan cache can reuse the built plan
    * across passes). MemoClusterSpec smokes the round-trip on a
    * `local-cluster[2,…]` master, where executors are separate JVMs.
    */
  private[graft] def edgeTableMemo(s: SparkSession, dir: String, variant: String = "full",
      inputs: Seq[String] = Seq("lineitem"))(derive: => DataFrame): DataFrame =
    graft.Memo.spilled(s, dir, inputs, variant)(derive)

  /** q257's triangle census + clustering coefficients over a distinct
    * undirected edge table (columns `pa`, `pb`, pa ≠ pb, one row per
    * unordered pair) — extracted so ScaleSmoke can measure its growth
    * curve on replicated graphs (VERDICT r8 ask #2).
    *
    * The triangle set is [[triangleListAdj]]'s compact-adjacency
    * INTERSECTION (the "forward"/edge-iterator variant — Schank &
    * Wagner 2005, Algorithm forward; VERDICT r8 ask #6): every edge is
    * oriented from its lower (degree, id) endpoint, so out-degrees stay
    * ≤ O(√m) and each triangle is found exactly once. The Σ outdeg²
    * wedge volume still moves through a shuffle, but as PACKED ARRAYS
    * replicated per edge instead of a 41M-row wedge stream probing a
    * join, and only true triangles are ever materialized as rows. Three
    * `Stage.mat` barriers: the orientation and the adjacency arrays
    * (inside triangleListAdj) and the triangle list here.
    *
    * Output: the global row (v = −1: n_nodes, triangle count,
    * transitivity ppm) + the top-10 local clustering coefficients.
    * The census depends only on the triangle set, so it equals the
    * wedge-join census (test reference GraphRefs.triangleCensus) by
    * construction; GraphOpsSpec pins equality on hand graphs, PERF.md
    * records the measured ratio.
    */
  def triangleCensusAdj(e: DataFrame): DataFrame = {
    val deg = e.select(col("pa").as("v")).unionByName(e.select(col("pb").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val tri = graft.Stage.mat(triangleListAdj(e))
    val perV = tri.select(col("u").as("v"))
      .unionByName(tri.select(col("x").as("v")))
      .unionByName(tri.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("tri"))
    val totals = tri.agg(count(lit(1)).as("n_tri"))
      .crossJoin(broadcast(
        deg.agg(sum(expr("d * (d - 1) DIV 2")).as("n_wedges"),
          count(lit(1)).as("n_nodes"))))
    val globalRow = totals.selectExpr("CAST(-1 AS BIGINT) AS v",
      "n_nodes AS d", "n_tri",
      "CASE WHEN n_wedges = 0 THEN 0 ELSE (3 * n_tri * 1000000) DIV n_wedges END AS cc_ppm")
    val localTop = deg.join(perV, Seq("v"))
      .selectExpr("v", "d", "tri AS n_tri",
        "(2 * tri * 1000000) DIV (d * (d - 1)) AS cc_ppm")
      .orderBy(col("cc_ppm").desc, col("v")).limit(10)
    globalRow.unionByName(localTop).orderBy(col("v"))
  }

  /** Triangle enumeration in the q257 compact-adjacency form
    * ([[triangleCensusAdj]]'s kernel): orient low-degree-first, pack
    * each node's out-neighbors into ONE sorted array, and find each
    * triangle {a,b,c} once at its oriented edge (u, w) as
    * explode(adj⁺(u) ∩ adj⁺(w)). One row (u, x, y) per triangle — the
    * O(m^1.5) pass every consumer (the census, truss peels) runs ONCE
    * per edge set. Same triangle set as the wedge-join enumeration
    * (test reference GraphRefs.triangleList) by construction; the
    * Σ outdeg² wedge volume moves as packed arrays replicated per edge
    * instead of a row-per-wedge join probe (PERF.md records both forms'
    * measurements).
    */
  private[graft] def triangleListAdj(e: DataFrame): DataFrame = {
    val deg = e.select(col("pa").as("v")).unionByName(e.select(col("pb").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    val ori = graft.Stage.mat(
      e.join(deg.select(col("v").as("pa"), col("d").as("da")), Seq("pa"))
        .join(deg.select(col("v").as("pb"), col("d").as("db")), Seq("pb"))
        .select(when(lower, col("pa")).otherwise(col("pb")).as("u"),
          when(lower, col("pb")).otherwise(col("pa")).as("w")))
    val adj = graft.Stage.mat(
      ori.groupBy(col("u")).agg(sort_array(collect_list(col("w"))).as("nbrs")))
    // inner joins: an edge whose w has no out-neighbors closes nothing
    ori
      .join(adj, Seq("u"))
      .join(adj.select(col("u").as("w"), col("nbrs").as("nbrs_w")), Seq("w"))
      .select(col("u"), col("w").as("x"),
        explode(array_intersect(col("nbrs"), col("nbrs_w"))).as("y"))
  }

  /** INCREMENTAL-support k-truss peel (round 14, VERDICT r13 ask #4):
    * the delta-support peel (test reference GraphRefs.kTrussRounds)
    * re-aggregated the FULL surviving triangle list
    * into a support table every round and re-materialized the triangle
    * list through three shuffle semi-joins against the kept-edge set.
    * But a peel round only changes the supports of edges that share a
    * triangle with a REMOVED edge — the k-core delta discipline
    * (kCorePeelDelta), applied edge-wise:
    *
    *  - removed_r = eCur ∖ next_r (the peel delta — small after round
    *    1 by the nature of peeling; never larger than eCur);
    *  - dead triangles = triangles with ≥ 1 removed edge, found by
    *    three LEFT lookups of the removed set against the triangle
    *    list's canonical edge keys (removed-sized build sides — AQE
    *    picks broadcast when they are small, the common case; the
    *    probe side streams ONCE instead of three semi-join shuffles);
    *  - support update: sup′ = sup − dec, dec = the dead triangles'
    *    3-edge credit aggregate (dead-scale, not triangle-scale);
    *    rows at 0 are dropped (a support can never grow back).
    *
    * Value-identical to per-round re-aggregation: a triangle of the
    * peeled subgraph is exactly an original triangle whose three edges
    * all survive, so sup′(e) = |{t ∈ tri_r : e ∈ t}| − |{t dead}| =
    * |{t ∈ tri_{r+1} : e ∈ t}|; for a removed edge every containing
    * triangle dies, so its sup′ hits 0 and the ≥ minSup filter drops
    * it exactly as the re-aggregated form's missing row does
    * (GraphOpsSpec pins inc ≡ classic round for round). Only the
    * support table is materialized per round — the flagged triangle
    * chain stays lazy (depth ≤ rounds−1 over the ONE materialized
    * triangle list; repeated broadcast subtrees reuse their exchange),
    * so the per-round barrier count drops from 3 (sup, next, tri
    * re-mat) to 1.
    */
  private[graft] def kTrussRoundsInc(e: DataFrame): DataFrame = {
    val tri = graft.Stage.mat(triangleListAdj(e).select(
      least(col("u"), col("x")).as("a1"), greatest(col("u"), col("x")).as("b1"),
      least(col("u"), col("y")).as("a2"), greatest(col("u"), col("y")).as("b2"),
      least(col("x"), col("y")).as("a3"), greatest(col("x"), col("y")).as("b3")))
    def support(t: DataFrame): DataFrame =
      t.select(col("a1").as("pa"), col("b1").as("pb"))
        .unionByName(t.select(col("a2").as("pa"), col("b2").as("pb")))
        .unionByName(t.select(col("a3").as("pa"), col("b3").as("pb")))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sup"))
    var supCur = graft.Stage.mat(support(tri))
    var triCur = tri
    var eCur = e.select(col("pa"), col("pb"))
    val rows = (1 to TrussRounds).map { r =>
      val next = supCur.filter(col("sup") >= TrussMinSup).select(col("pa"), col("pb"))
      val row = eCur.agg(count(lit(1)).as("n_edges_in"))
        .crossJoin(triCur.agg(count(lit(1)).as("n_tri")))
        .crossJoin(next.agg(count(lit(1)).as("n_kept")))
        .selectExpr(s"CAST($r AS BIGINT) AS round", "n_edges_in", "n_tri",
          "n_kept")
      if (r < TrussRounds) {
        // materialized once (it feeds three lookup builds), and
        // broadcast: the peel delta is bounded by the current edge set
        // and shrinks as the peel converges — the same size class as
        // the per-round frontier the k-core delta broadcasts
        // the triangle-killing removed edges need NO anti-join: every
        // edge of a still-alive triangle carries a support row (the
        // triangle itself credits it), so the kill set is exactly the
        // sub-threshold rows of the materialized support table — a
        // narrow filter. Removed edges WITHOUT a support row (zero
        // surviving triangles) kill nothing and are dropped from the
        // kept set by the ≥ minSup filter alone.
        def rm(a: String, b: String, x: String) =
          broadcast(supCur.filter(col("sup") < TrussMinSup)
            .select(col("pa").as(a), col("pb").as(b), lit(1).as(x)))
        // ONE materialized pass carries the three dead-edge flags: the
        // dec aggregate and the surviving-triangle view both read the
        // same blocks (a lazy flagged chain re-ran the lookup pass per
        // consumer and measured slower; so did a fully lazy plan —
        // ~1100 operators of Catalyst + Janino per run)
        val flagged = graft.Stage.mat(triCur
          .join(rm("a1", "b1", "x1"), Seq("a1", "b1"), "left")
          .join(rm("a2", "b2", "x2"), Seq("a2", "b2"), "left")
          .join(rm("a3", "b3", "x3"), Seq("a3", "b3"), "left"))
        val dead = flagged.filter(
          col("x1").isNotNull || col("x2").isNotNull || col("x3").isNotNull)
        val dec = support(dead).withColumnRenamed("sup", "dec")
        supCur = graft.Stage.mat(
          supCur.join(broadcast(dec), Seq("pa", "pb"), "left")
            .select(col("pa"), col("pb"),
              (col("sup") - coalesce(col("dec"), lit(0L))).as("sup"))
            .filter(col("sup") > 0))
        triCur = flagged
          .filter(col("x1").isNull && col("x2").isNull && col("x3").isNull)
          .select(col("a1"), col("b1"), col("a2"), col("b2"), col("a3"),
            col("b3"))
        eCur = next
      }
      row
    }
    rows.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** q342's eigencentrality body over a distinct undirected edge table
    * (pa < pb): three exact-integer power iterations from v₀ ≡ 1
    * (v₁ = degree, v₃ = 3-walk counts), score_ppm = 1e6·v₃ DIV max(v₃),
    * top-k. Each iteration = one edge-join + re-aggregate — PageRank's
    * scale shape with no damping vector. Extracted so ScaleSmoke can
    * measure its growth on replicated graphs (VERDICT r10 ask #3).
    */
  private[graft] def eigenCentralityTopK(e: DataFrame): DataFrame = {
    val adj = graft.Stage.mat(
      e.select(col("pa").as("u"), col("pb").as("v"))
        .unionByName(e.select(col("pb").as("u"), col("pa").as("v"))))
    def iter(prev: DataFrame): DataFrame = graft.Stage.mat(
      adj.join(prev.select(col("v"), col("s")), Seq("v"))
        .groupBy(col("u")).agg(sum(col("s")).as("s"))
        .select(col("u").as("v"), col("s")))
    val v1 = graft.Stage.mat(
      adj.groupBy(col("u")).agg(count(lit(1)).as("s"))
        .select(col("u").as("v"), col("s")))
    val v3 = iter(iter(v1))
    v3.crossJoin(broadcast(v3.agg(max(col("s")).as("smax"))))
      .selectExpr("v", "s AS walks3",
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * s) DIV smax AS BIGINT)
           AS score_ppm""")
      .orderBy(col("score_ppm").desc, col("v")).limit(20)
  }

  /** q325's cohort-bounded Adamic–Adar body over a distinct undirected
    * edge table (pa < pb): both pair endpoints restricted to the 10%
    * candidate shard (v % 10 = 3), centers/degrees unrestricted, weights
    * 1e15 DIV round9ln(d), existing edges anti-joined, top-k TakeOrdered.
    * Extracted so ScaleSmoke can measure its growth on replicated graphs.
    */
  private[graft] def adamicAdarTopK(e: DataFrame): DataFrame = {
    val adj = e.select(col("pa").as("u"), col("pb").as("v"))
      .unionByName(e.select(col("pb").as("u"), col("pa").as("v")))
    val cen = adj
      .groupBy(col("u")).agg(count(lit(1)).as("d"),
        sort_array(collect_set(
          when(pmod(col("v"), lit(10L)) === 3L, col("v")))).as("vsq"))
      .filter(size(col("vsq")) >= 2)
      .withColumn("w", expr(
        """1000000000000000 DIV
           CAST(round(ln(CAST(d AS DOUBLE)) * 1000000000, 0) AS BIGINT)"""))
    val pairs = cen.select(col("w"), explode(expr(
        """flatten(transform(vsq, (a, i) ->
             transform(slice(vsq, i + 2, size(vsq)), b -> struct(a AS x, b AS y))))"""))
        .as("pr"))
      .select(col("pr.x"), col("pr.y"), col("w"))
    pairs.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cn"), sum(col("w")).as("aa_micros"))
      .join(e.select(col("pa").as("x"), col("pb").as("y")), Seq("x", "y"),
        "left_anti")
      .orderBy(col("aa_micros").desc, col("x"), col("y")).limit(20)
  }

  val defs: Seq[(String, QFn, Option[String])] = Seq(

    // ---- rich-club coefficient (Colizza et al. 2006, unnormalized
    //      form): among the nodes with degree > k, how dense is the
    //      subgraph? φ(k) = 2·E_k / (N_k·(N_k−1)) — hub-interconnection
    //      structure the degree distribution alone can't see (do the
    //      high-degree parts co-purchase with EACH OTHER, or only with
    //      the periphery?). Thresholds = the degree table's p50/p75/
    //      p90/p95 nearest-rank order statistics (data-derived, not
    //      magic constants). The normalized variant divides by a
    //      degree-preserving random rewiring's φ — RNG-dependent, out
    //      of the engine's determinism contract; documented, and the
    //      raw φ(k) curve is what the comparison consumes anyway.
    //
    //      Scale shape: basket-bounded edge build (q257 helper), one
    //      degree aggregate, per-threshold two broadcast semi-joins of
    //      the rich-node set + one count — never a corpus sort; the
    //      degree quantiles ride the count-of-counts histogram
    //      (distinct-degree-sized cumulation, q156's regime).
    ("q290_rich_club", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val e = edgeTableMemo(s, dir)(
        partCoPurchaseEdges(Tables(s, dir).lineitem))
      val deg = graft.Stage.mat(
        e.select(col("pa").as("v")).unionByName(e.select(col("pb").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("d")))
      // nearest-rank degree thresholds from the count-of-counts table
      val coc = deg.groupBy(col("d")).agg(count(lit(1)).as("f"))
        .withColumn("cum", sum(col("f")).over(Window.orderBy(col("d"))))
      val nAll = deg.agg(count(lit(1)).as("n"))
      val ks = coc.crossJoin(broadcast(nAll))
        .select(explode(expr("array(50L, 75L, 90L, 95L)")).as("pct"),
          col("d"), col("cum"), col("n"))
        .filter(col("cum") * 100L >= col("pct") * col("n"))
        .groupBy(col("pct")).agg(min(col("d")).as("k_thresh"))
        .transform(graft.Stage.mat)
      val rich = deg.crossJoin(broadcast(ks))
        .filter(col("d") > col("k_thresh"))
        .select(col("pct"), col("k_thresh"), col("v"))
      val nRich = rich.groupBy(col("pct"), col("k_thresh"))
        .agg(count(lit(1)).as("n_rich"))
      val eRich = e
        .join(rich.select(col("pct"), col("v").as("pa")), Seq("pa"))
        .join(rich.select(col("pct"), col("v").as("pb")), Seq("pct", "pb"))
        .groupBy(col("pct")).agg(count(lit(1)).as("e_rich"))
      nRich.join(eRich, Seq("pct"), "left")
        .selectExpr("pct", "k_thresh", "n_rich",
          "coalesce(e_rich, 0) AS e_rich",
          """CAST((2 * coalesce(e_rich, 0) * 1000000)
                DIV greatest(n_rich * (n_rich - 1), 1) AS BIGINT) AS phi_ppm""")
        .orderBy(col("pct"))
    }, Some(s"""
      WITH ${partDegreesSql},
      coc AS (SELECT d, CAST(count(*) AS BIGINT) AS f FROM deg GROUP BY d),
      cc AS (SELECT d, SUM(f) OVER (ORDER BY d) AS cum FROM coc),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
      ks AS (SELECT pct, MIN(d) AS k_thresh
             FROM cc CROSS JOIN n
             CROSS JOIN (SELECT unnest([50, 75, 90, 95]) AS pct)
             WHERE cum * 100 >= pct * n GROUP BY pct),
      rich AS (SELECT k.pct, k.k_thresh, deg.v
               FROM deg JOIN ks k ON deg.d > k.k_thresh),
      nr AS (SELECT pct, k_thresh, CAST(count(*) AS BIGINT) AS n_rich
             FROM rich GROUP BY pct, k_thresh),
      er AS (SELECT ra.pct, CAST(count(*) AS BIGINT) AS e_rich
             FROM e JOIN rich ra ON e.pa = ra.v
                    JOIN rich rb ON e.pb = rb.v AND ra.pct = rb.pct
             GROUP BY ra.pct)
      SELECT CAST(nr.pct AS BIGINT) AS pct, nr.k_thresh, nr.n_rich,
             COALESCE(er.e_rich, 0) AS e_rich,
             CAST((2 * COALESCE(er.e_rich, 0) * 1000000)
                  // greatest(nr.n_rich * (nr.n_rich - 1), 1) AS BIGINT)
               AS phi_ppm
      FROM nr LEFT JOIN er ON nr.pct = er.pct
      ORDER BY pct""")),

    // ---- TrustRank over the directed user→item action graph: seeds =
    //      the 5 most-active users (count desc, id — a deterministic,
    //      oracle-replayable selection standing in for an editorial
    //      trust list), teleport and dangling mass confined to the
    //      seeds, 3 iterations. Items accumulate trust only via edges
    //      from trusted-mass users — the corpus-curation propagation
    //      TrustRank exists for. Same integer-micros discipline and
    //      plan shape as q127; the oracle unrolls seed selection and
    //      all three seed-gated iterations.
    ("q132_trustrank", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir).events.filter(col("user_id").isNotNull)
      val inter = edgeTableMemo(s, dir, "interaction_directed", Seq("events"))(
        interactionDirectedEdges(s, dir))
      val seeds = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("user_id")).limit(5)
        .select(concat(lit("u:"), col("user_id").cast("string")).as("node"))
      trustRankMicros(inter.withColumn("w", lit(1L)), seeds, iters = 3)
        .orderBy(col("node"))
    }, Some(s"""
      WITH ${directedRankEdgesSql},
      seeds AS (SELECT concat('u:', CAST(user_id AS VARCHAR)) AS node
                FROM (SELECT user_id, count(*) AS c FROM events
                      WHERE user_id IS NOT NULL
                      GROUP BY user_id ORDER BY c DESC, user_id LIMIT 5)),
      ns AS (SELECT count(*) AS k FROM seeds),
      fn AS (SELECT nodes.node, (s.node IS NOT NULL) AS is_seed
             FROM nodes LEFT JOIN seeds s ON nodes.node = s.node),
      r0 AS (SELECT node, CASE WHEN is_seed THEN CAST(1000000 // k AS BIGINT)
                           ELSE 0 END AS rank_m FROM fn, ns),
      $trItersSql
      SELECT node, rank_m, rank_m / 1000000.0 AS rank_r
      FROM r3 ORDER BY node""")),

    // ---- directed PageRank with dangling-mass redistribution over the
    //      user→item action graph (no mirroring: items never act, so
    //      every 'i:' node is a genuine sink and the dangling term
    //      carries ~half the mass each iteration — the variant the
    //      bidirected q117 cannot express). Same integer-micros
    //      discipline; the oracle unrolls all three iterations
    //      including the one-row dangling aggregate. Plan per
    //      iteration: contribution join + agg (as q117) plus a one-row
    //      dangling sum broadcast into the update; frontiers are
    //      materialized because they feed BOTH consumers (see
    //      pageRankDirectedMicros scaladoc).
    ("q127_pagerank_directed", (s: SparkSession, dir: String) => {
      pageRankDirectedMicros(
        edgeTableMemo(s, dir, "interaction_directed", Seq("events"))(
          interactionDirectedEdges(s, dir)), iters = 3)
        .orderBy(col("node"))
    }, Some(s"""
      WITH ${directedRankEdgesSql},
      p AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT node, CAST(1000000 // n AS BIGINT) AS rank_m FROM nodes, p),
      ${prItersSql("r.rank_m // ew.outdeg")}
      SELECT node, rank_m, rank_m / 1000000.0 AS rank_r
      FROM r3 ORDER BY node""")),

    // ---- HITS hubs/authorities over the distinct user→item graph:
    //      2 mutual-reinforcement iterations, each side L∞-normalized
    //      in integer micros. Hubs rank curator users, authorities rank
    //      consensus items. Oracle unrolls both iterations and both
    //      normalizations.
    ("q137_hits", (s: SparkSession, dir: String) => {
      hitsMicros(
        edgeTableMemo(s, dir, "interaction_directed", Seq("events"))(
          interactionDirectedEdges(s, dir)))
        .orderBy(col("kind"), col("node"))
    }, Some(s"""
      WITH e AS (
        SELECT DISTINCT concat('u:', CAST(user_id AS VARCHAR)) AS src,
               concat('i:', CAST(COALESCE(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT), 0) AS VARCHAR)) AS dst
        FROM events WHERE user_id IS NOT NULL),
      h0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS h FROM e),
      ${hitsIterSql(1)},
      ${hitsIterSql(2)}
      SELECT node, kind, score_m, score_m / 1000000.0 AS score_r FROM (
        SELECT node, 'hub' AS kind, h AS score_m FROM h2
        UNION ALL
        SELECT node, 'auth' AS kind, a AS score_m FROM a2)
      ORDER BY kind, node""")),

    // ---- weighted directed PageRank over the user→item graph with
    //      w = interaction multiplicity (events counted, not distinct):
    //      rank splits by intensity, the model the reference's
    //      vote-weight domain actually implies. Items stay sinks so the
    //      dangling term is live; oracle unrolls all 3 weighted
    //      iterations.
    ("q136_pagerank_weighted", (s: SparkSession, dir: String) => {
      pageRankWeightedMicros(
        edgeTableMemo(s, dir, "interaction_weighted", Seq("events"))(
          interactionWeightedEdges(s, dir)), iters = 3)
        .orderBy(col("node"))
    }, Some(s"""
      WITH inter AS (
        SELECT concat('u:', CAST(user_id AS VARCHAR)) AS src,
               concat('i:', CAST(COALESCE(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT), 0) AS VARCHAR)) AS dst,
               count(*) AS w
        FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      nodes AS (SELECT src AS node FROM inter UNION SELECT dst FROM inter),
      deg AS (SELECT src, SUM(w) AS outw FROM inter GROUP BY src),
      ew AS (SELECT inter.src, inter.dst, inter.w, deg.outw FROM inter JOIN deg USING (src)),
      p AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT node, CAST(1000000 // n AS BIGINT) AS rank_m FROM nodes, p),
      ${prItersSql("(r.rank_m * ew.w) // ew.outw")}
      SELECT node, rank_m, rank_m / 1000000.0 AS rank_r
      FROM r3 ORDER BY node""")),

    // ---- PageRank (integer-micros, 3 synchronous iterations) over the
    //      bidirected user↔item interaction graph. The oracle unrolls
    //      all three iterations in exact integer arithmetic (DuckDB's
    //      `//` on BIGINT/HUGEINT), so every rank value is replayed to
    //      the micro. Plan: per iteration one hash join (node-count
    //      build side) + one map-side-combined agg — see the object
    //      scaladoc for the 100 TB bucketing/skew argument.
    ("q117_pagerank", (s: SparkSession, dir: String) => {
      pageRankMicros(edgeTableMemo(s, dir, "interaction", Seq("events"))(
        interactionEdges(s, dir)), iters = 3)
        .orderBy(col("node"))
    }, Some(s"""
      WITH ${interactionEdgesSql("e")},
      deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
      ew AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
      p AS (SELECT count(*) AS n FROM deg),
      r0 AS (SELECT src AS node, CAST(1000000 // n AS BIGINT) AS rank_m FROM deg, p),
      r1 AS (SELECT ew.dst AS node,
               CAST((15 * 1000000) // (100 * p.n)
                    + (85 * SUM(r.rank_m // ew.outdeg)) // 100 AS BIGINT) AS rank_m
             FROM ew JOIN r0 r ON ew.src = r.node CROSS JOIN p
             GROUP BY ew.dst, p.n),
      r2 AS (SELECT ew.dst AS node,
               CAST((15 * 1000000) // (100 * p.n)
                    + (85 * SUM(r.rank_m // ew.outdeg)) // 100 AS BIGINT) AS rank_m
             FROM ew JOIN r1 r ON ew.src = r.node CROSS JOIN p
             GROUP BY ew.dst, p.n),
      r3 AS (SELECT ew.dst AS node,
               CAST((15 * 1000000) // (100 * p.n)
                    + (85 * SUM(r.rank_m // ew.outdeg)) // 100 AS BIGINT) AS rank_m
             FROM ew JOIN r2 r ON ew.src = r.node CROSS JOIN p
             GROUP BY ew.dst, p.n)
      SELECT node, rank_m, rank_m / 1000000.0 AS rank_r
      FROM r3 ORDER BY node""")),

    // ---- k-core peel (k=2 and k=3, 6 synchronous rounds) over the
    //      bidirected interaction graph: the standard dense-subgraph
    //      screen (2-core strips pendant chains, 3-core keeps only
    //      genuinely interlocked communities). Output is the 2-core
    //      membership with in-core degrees, the 3-core flag/degree, and
    //      per-k convergence certificates proving the fixed-round peel
    //      reached its fixpoint on this graph. The oracle unrolls all
    //      6 rounds for both k — pure integer counts, no division.
    ("q138_kcore", (s: SparkSession, dir: String) => {
      val e = edgeTableMemo(s, dir, "interaction", Seq("events"))(interactionEdges(s, dir))
      // ships on the DELTA peel (r10: ProbeKCore measured 2.34 s vs the
      // semi-join peel's 3.78 s min at sf0.1, 15.5 s vs 3.9 s cold);
      // spec-pinned identical outputs, oracle unchanged
      val (c2, conv2) = kCorePeelDelta(e, k = 2, rounds = 6)
      val (c3, conv3) = kCorePeelDelta(e, k = 3, rounds = 6)
      c2.select(col("node"), col("d").as("deg_core2"))
        .join(c3.select(col("node"), lit(true).as("in3"), col("d").as("d3")),
          Seq("node"), "left")
        .crossJoin(broadcast(conv2.select(col("converged").as("converged2"))))
        .crossJoin(broadcast(conv3.select(col("converged").as("converged3"))))
        .select(col("node"), col("deg_core2"),
          coalesce(col("in3"), lit(false)).as("in_core3"),
          coalesce(col("d3"), lit(0L)).as("deg_core3"),
          col("converged2"), col("converged3"))
        .orderBy(col("node"))
    }, Some(s"""
      WITH ${interactionEdgesSql("e0")},
      ${kcoreSql(2, "k2")},
      ${kcoreSql(3, "k3")}
      SELECT a.node, COALESCE(d2.d, 0) AS deg_core2,
             (a3.node IS NOT NULL) AS in_core3,
             COALESCE(d3.d, 0) AS deg_core3,
             c2.conv AS converged2, c3.conv AS converged3
      FROM k2a6 a
      LEFT JOIN k2d d2 ON a.node = d2.node
      LEFT JOIN k3a6 a3 ON a.node = a3.node
      LEFT JOIN k3d d3 ON a.node = d3.node
      CROSS JOIN k2c c2 CROSS JOIN k3c c3
      ORDER BY a.node""")),

    // ---- coreness decomposition (Seidman 1983's k-core ladder) on a
    //      DYADIC k ladder {1,2,4,…,64}: every node's coreness level =
    //      the largest ladder k whose (fixed-6-round) k-core still
    //      contains it — the log-scaled shell structure q138's two
    //      flags sample (dyadic, not fixture-tuned: the q258 lesson —
    //      the ladder covers every degree order of magnitude, so it
    //      stays informative as degrees grow with corpus scale).
    //      Computed as WARM-STARTED delta peels (kCorePeelDelta, the
    //      r10 form): each level peels the PREVIOUS level's core
    //      subgraph, valid because k-core ⊆ k'-core for k ≥ k', so the
    //      edge list shrinks monotonically up the ladder and the
    //      expensive low-k levels run exactly once. Per-level
    //      convergence certificates ride every row (broadcast one-row
    //      crossJoins); the oracle unrolls the same warm-started chain
    //      (each level's round-1 base = the previous level's final
    //      restricted edge CTE), pinning the fixed-round semantics
    //      identically on both engines.
    ("q311_coreness", (s: SparkSession, dir: String) => {
      corenessLadder(edgeTableMemo(s, dir, "interaction", Seq("events"))(
        interactionEdges(s, dir)), Seq(1, 2, 4, 8, 16, 32, 64))
    }, Some {
      val ladder = Seq(1, 2, 4, 8, 16, 32, 64)
      val chains = ladder.zipWithIndex.map { case (k, i) =>
        kcoreSql(k, s"c$k", if (i == 0) "e0" else s"c${ladder(i - 1)}e6")
      }.mkString(",\n      ")
      val members = ladder.map(k => s"SELECT node, $k AS k FROM c${k}a6")
        .mkString("\n                UNION ALL ")
      val convCols = ladder.map(k => s"c$k.conv AS converged_k$k").mkString(", ")
      val convJoins = ladder.map(k => s"CROSS JOIN c${k}c c$k").mkString(" ")
      s"""
      WITH ${interactionEdgesSql("e0")},
      $chains,
      cor AS (SELECT node, CAST(MAX(k) AS BIGINT) AS coreness FROM (
                $members) GROUP BY node)
      SELECT node, coreness, $convCols
      FROM cor $convJoins
      ORDER BY node"""
    }),

    // ---- degree assortativity of the bidirected interaction graph:
    //      one row — edge count, degree covariance/variances in micros,
    //      sign(r) and r² micros (no-sqrt discipline). Bipartite
    //      user↔item graphs are structurally disassortative (hubs face
    //      leaves), so r_sign = -1 is itself a semantic check. The
    //      oracle replays every divide-early floor.
    ("q142_assortativity", (s: SparkSession, dir: String) => {
      degreeAssortativityMicros(edgeTableMemo(s, dir, "interaction", Seq("events"))(
        interactionEdges(s, dir)))
    }, Some(s"""
      WITH ${interactionEdgesSql("e")},
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
      s AS (SELECT CAST(count(*) AS BIGINT) AS m,
                   SUM(dj.d) AS sx, SUM(dk.d) AS sy, SUM(dj.d * dk.d) AS sxy,
                   SUM(dj.d * dj.d) AS sxx, SUM(dk.d * dk.d) AS syy
            FROM e JOIN deg dj ON e.src = dj.src JOIN deg dk ON e.dst = dk.src),
      mic AS (SELECT m,
                (1000000 * sx) // greatest(m, 1) AS ex_m,
                (1000000 * sy) // greatest(m, 1) AS ey_m,
                (1000000 * sxy) // greatest(m, 1) AS exy_m,
                (1000000 * sxx) // greatest(m, 1) AS exx_m,
                (1000000 * syy) // greatest(m, 1) AS eyy_m
              FROM s),
      cv AS (SELECT m,
               exy_m - (CAST(ex_m AS HUGEINT) * ey_m) // 1000000 AS cov_m,
               exx_m - (CAST(ex_m AS HUGEINT) * ex_m) // 1000000 AS varx_m,
               eyy_m - (CAST(ey_m AS HUGEINT) * ey_m) // 1000000 AS vary_m
             FROM mic)
      SELECT CAST(m AS BIGINT) AS n_edges, CAST(cov_m AS BIGINT) AS cov_m,
             CAST(varx_m AS BIGINT) AS varx_m, CAST(vary_m AS BIGINT) AS vary_m,
             CAST(CASE WHEN cov_m < 0 THEN -1 WHEN cov_m > 0 THEN 1 ELSE 0 END AS BIGINT) AS r_sign,
             CAST((CAST(cov_m AS HUGEINT) * cov_m * 1000000)
                  // greatest(CAST(varx_m AS HUGEINT) * vary_m, 1) AS BIGINT) AS r2_micros
      FROM cv""")),

    // ---- label-propagation communities over the bidirected
    //      interaction graph: 3 synchronous rounds, then the community
    //      SIZE histogram (label = the surviving seed node). The
    //      oracle unrolls all three mode-with-min-tie updates —
    //      row_number over (cnt desc, label) is the entire tie
    //      contract, so the replay is exact, not approximate.
    ("q150_label_prop", (s: SparkSession, dir: String) => {
      labelPropagation(edgeTableMemo(s, dir, "interaction", Seq("events"))(
        interactionEdges(s, dir)), iters = 3)
        .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("label"))
    }, Some(s"""
      WITH ${interactionEdgesSql("edges")},
      l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
      ${lpaIterSql(1)},
      ${lpaIterSql(2)},
      ${lpaIterSql(3)}
      SELECT label, CAST(count(*) AS BIGINT) AS n_members
      FROM l3 GROUP BY label
      ORDER BY n_members DESC, label""")),

    // ---- per-node 1- and 2-hop reach over the bidirected interaction
    //      graph: on a bipartite u↔i graph r2(user) counts the user's
    //      items PLUS every co-interacting user — the collaborative-
    //      filtering neighborhood size. The oracle replays the
    //      level-wise dedup exactly.
    //
    //      The declared query runs on the FIXED SEED COHORT (user_id ≤
    //      60, the q168 bounding strategy): exact distinct-2-hop is
    //      Σ deg² wedge work before the level dedup can collapse it,
    //      and on a hub-dense bipartite graph (fixed item vocabulary,
    //      growing users) that is quadratic in the corpus — the
    //      unbounded form measured 59 s at sf0.1 vs ~0.2 s bounded,
    //      and would be a cluster-killer at 100 TB. Production k-hop
    //      on hub graphs bounds the expansion structurally: hub
    //      caps / per-node neighbor sampling (the GraphSAGE
    //      discipline) or sketched frontiers (HLL per node) when
    //      approximate reach suffices; the cohort keeps this query's
    //      wedge work constant at every scale factor.
    ("q158_khop_reach", (s: SparkSession, dir: String) => {
      kHopReach(interactionEdges(s, dir, maxUser = Some(60L)))
        .orderBy(col("node"))
    }, Some(s"""
      WITH ${interactionEdgesSql("e", Some(60L))},
      hop2 AS (SELECT e1.src, e2.dst
               FROM e e1 JOIN e e2 ON e1.dst = e2.src),
      w2 AS (SELECT DISTINCT src, dst FROM
               (SELECT src, dst FROM e UNION ALL SELECT src, dst FROM hop2)
             WHERE src <> dst),
      r1 AS (SELECT src, CAST(count(*) AS BIGINT) AS r1 FROM e
             WHERE src <> dst GROUP BY src),
      r2 AS (SELECT src, CAST(count(*) AS BIGINT) AS r2 FROM w2 GROUP BY src)
      SELECT COALESCE(r1.src, r2.src) AS node,
             COALESCE(r1.r1, 0) AS r1, COALESCE(r2.r2, 0) AS r2
      FROM r1 FULL OUTER JOIN r2 ON r1.src = r2.src
      ORDER BY node""")),

    // ---- link prediction by resource-allocation index (Zhou, Lü &
    //      Zhang 2009) over the bipartite user–item graph: for every
    //      user pair, RA = Σ over shared items of 1/deg(item) — shared
    //      rare items are strong evidence of affinity, shared hub items
    //      are nearly none. The exact-integer contract is per-term:
    //      each shared item contributes floor(1e6 / deg(i)) and the
    //      pair score is the SUM of those floored terms (documented;
    //      both engines replay it term-for-term, no float ever).
    //      common_items rides along as the plain common-neighbors
    //      baseline. This is the candidate generator a collaborative
    //      recommender or a user-correlation audit runs.
    //
    //      Scale shape: one wedge self-join keyed on the item — work is
    //      Σ_i deg(i)², the same bound as the q123 triangle closure, so
    //      hub items are the hazard; production corpora cap or drop
    //      items above a degree threshold (the standard CF escape —
    //      a hub's 1e6/deg term contributes ~0 anyway, so the cap
    //      changes scores by < itemCap·ε). The declared query bounds
    //      work structurally instead: a fixed seed cohort (user_id ≤
    //      60) keeps deg(i) ≤ 60 at EVERY scale factor since the item
    //      vocabulary is fixed — constant wedge work as the corpus
    //      grows. Counts/terms are map-side combined; top-k is
    //      TakeOrderedAndProject (no global sort materialization).
    ("q168_link_ra", (s: SparkSession, dir: String) => {
      val ui = userItemPairs(s, dir, maxUser = Some(60L))
      val deg = ui.groupBy(col("i")).agg(count(lit(1)).as("ideg"))
      val ew = ui.join(deg, Seq("i"))
        .withColumn("ra_term", expr("CAST(1000000 DIV ideg AS BIGINT)"))
      ew.select(col("i"), col("u").as("u_a"), col("ra_term"))
        .join(ew.select(col("i"), col("u").as("u_b")), Seq("i"))
        .filter(col("u_a") < col("u_b"))
        .groupBy(col("u_a"), col("u_b"))
        .agg(count(lit(1)).as("common_items"), sum(col("ra_term")).as("ra_micros"))
        .orderBy(col("ra_micros").desc, col("u_a"), col("u_b"))
        .limit(50)
    }, Some("""
      WITH ui AS (
        SELECT DISTINCT user_id AS u,
               COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS i
        FROM events WHERE user_id IS NOT NULL AND user_id <= 60),
      deg AS (SELECT i, CAST(count(*) AS BIGINT) AS ideg FROM ui GROUP BY i),
      ew AS (SELECT ui.u, ui.i, CAST(1000000 // ideg AS BIGINT) AS ra_term
             FROM ui JOIN deg USING (i)),
      pairs AS (
        SELECT a.u AS u_a, b.u AS u_b,
               CAST(count(*) AS BIGINT) AS common_items,
               CAST(SUM(a.ra_term) AS BIGINT) AS ra_micros
        FROM ew a JOIN ew b ON a.i = b.i AND a.u < b.u
        GROUP BY a.u, b.u)
      SELECT u_a, u_b, common_items, ra_micros
      FROM pairs
      ORDER BY ra_micros DESC, u_a, u_b LIMIT 50""")),

    // ---- hash-deterministic random walks (the DeepWalk/node2vec
    //      sampling primitive, RNG-free): every node starts 2 walks of
    //      3 steps over the cohort interaction graph; at each step the
    //      walker moves to the neighbor MINIMIZING the portable hash of
    //      (walk, step, current, neighbor) — per-step uniform-ish
    //      choice that both engines replay exactly, the same
    //      derandomization trick as the q121 split and q173 deal. The
    //      output is what an embedding trainer consumes: skip-gram
    //      co-occurrence counts of (node, context) pairs within the
    //      walk window (≤ 2 positions apart), top-40. An engine that
    //      can't sample walks can't feed DeepWalk; an engine that
    //      samples them nondeterministically can't certify them.
    //
    //      Scale shape: 3 iterations of a frontier-edge equi-join on
    //      the current node (co-partitioned, frontier size = nodes ×
    //      walks, constant here via the cohort bound); the per-step
    //      argmin is a window over each walker's neighbor set —
    //      deg-bounded. Co-occurrence is one map-side-combined count.
    ("q189_det_walks", (s: SparkSession, dir: String) => {
      val edges = interactionEdges(s, dir, maxUser = Some(60L))
        .transform(graft.Stage.mat) // reused every step
      val h = (c: org.apache.spark.sql.Column) => TextStats.portableHash64(c)
      val nodes = edges.select(col("src").as("n")).distinct()
      var frontier = nodes
        .crossJoin(broadcast(s.range(0, 2).select(col("id").as("w"))))
        .select(col("n").as("start"), col("w"), col("n").as("p0"))
      for (t <- 1 to 3) {
        val wv = org.apache.spark.sql.expressions.Window
          .partitionBy(col("start"), col("w"))
          .orderBy(col("hh"), col("dst"))
        frontier = frontier
          .join(edges, frontier(s"p${t - 1}") === edges("src"))
          .withColumn("hh", h(concat_ws(":", lit("walk"), col("w"),
            lit(t), col(s"p${t - 1}"), col("dst"))))
          .withColumn("rn", row_number().over(wv))
          .filter(col("rn") === 1)
          .drop("src", "hh", "rn")
          .withColumnRenamed("dst", s"p$t")
      }
      val pos = frontier.selectExpr("start", "w",
        "stack(4, 0, p0, 1, p1, 2, p2, 3, p3) AS (pos, node)")
      val a = pos.select(col("start"), col("w"), col("pos").as("ia"), col("node").as("na"))
      val b = pos.select(col("start"), col("w"), col("pos").as("ib"), col("node").as("nb"))
      a.join(b, Seq("start", "w"))
        .filter(col("ib") > col("ia") && col("ib") - col("ia") <= 2)
        .groupBy(col("na"), col("nb"))
        .agg(count(lit(1)).as("n_cooc"))
        .orderBy(col("n_cooc").desc, col("na"), col("nb"))
        .limit(40)
    }, Some(s"""
      WITH ${interactionEdgesSql("e", Some(60L))},
      f0 AS (
        SELECT n.src AS start, w.w, n.src AS p0
        FROM (SELECT DISTINCT src FROM e) n
        CROSS JOIN (SELECT unnest(range(0, 2)) AS w) w),
      ${(1 to 3).map { t =>
        s"""s$t AS (
        SELECT start, w, ${(0 until t).map(i => s"p$i").mkString(", ")}, dst AS p$t
        FROM (
          SELECT f.*, e.dst,
                 row_number() OVER (PARTITION BY f.start, f.w
                   ORDER BY ${TextStats.portableHash64Sql(
                     s"concat('walk', ':', CAST(f.w AS VARCHAR), ':', '$t', ':', f.p${t - 1}, ':', e.dst)")}, e.dst) AS rn
          FROM ${if (t == 1) "f0" else s"s${t - 1}"} f JOIN e ON f.p${t - 1} = e.src)
        WHERE rn = 1)"""
      }.mkString(",\n      ")},
      pos AS (
        SELECT start, w, 0 AS pos, p0 AS node FROM s3
        UNION ALL SELECT start, w, 1, p1 FROM s3
        UNION ALL SELECT start, w, 2, p2 FROM s3
        UNION ALL SELECT start, w, 3, p3 FROM s3)
      SELECT a.node AS na, b.node AS nb, CAST(count(*) AS BIGINT) AS n_cooc
      FROM pos a JOIN pos b
        ON a.start = b.start AND a.w = b.w
       AND b.pos > a.pos AND b.pos - a.pos <= 2
      GROUP BY na, nb
      ORDER BY n_cooc DESC, na, nb LIMIT 40""")),

    // ---- modularity audit of the q150 communities: per-community
    //      intra-edge vs degree-expectation ppm + the zz_total Q row —
    //      the "did label propagation find real structure" check (Q≈0
    //      ⇒ no better than the degree-random null). The oracle
    //      replays the three LPA rounds, both truncating quotients,
    //      and the exact subtractions.
    ("q208_modularity", (s: SparkSession, dir: String) => {
      val e = edgeTableMemo(s, dir, "interaction", Seq("events"))(interactionEdges(s, dir))
      modularityPpm(e, labelPropagation(e, iters = 3))
    }, Some(s"""
      WITH ${interactionEdgesSql("edges")},
      l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
      ${lpaIterSql(1)},
      ${lpaIterSql(2)},
      ${lpaIterSql(3)},
      m2t AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
      dc AS (SELECT l.label, SUM(deg.d) AS d_c, CAST(count(*) AS BIGINT) AS n_members
             FROM deg JOIN l3 l ON deg.src = l.node GROUP BY l.label),
      intra AS (SELECT la.label, CAST(count(*) AS BIGINT) AS e2_c
                FROM edges e JOIN l3 la ON e.src = la.node
                JOIN l3 lb ON e.dst = lb.node
                WHERE la.label = lb.label GROUP BY la.label),
      per AS (
        SELECT dc.label, dc.n_members, COALESCE(intra.e2_c, 0) AS e2_c,
               CAST(dc.d_c AS BIGINT) AS d_c,
               (1000000 * COALESCE(intra.e2_c, 0)) // greatest(m2, 1) AS intra_ppm,
               CAST((1000000 * CAST(dc.d_c AS HUGEINT) * dc.d_c)
                    // greatest(CAST(m2 AS HUGEINT) * m2, 1) AS BIGINT) AS expected_ppm
        FROM dc LEFT JOIN intra ON dc.label = intra.label CROSS JOIN m2t)
      SELECT label, n_members, e2_c, d_c, intra_ppm, expected_ppm,
             intra_ppm - expected_ppm AS q_ppm
      FROM per
      UNION ALL
      SELECT 'zz_total', CAST(SUM(n_members) AS BIGINT), CAST(SUM(e2_c) AS BIGINT),
             CAST(SUM(d_c) AS BIGINT), CAST(SUM(intra_ppm) AS BIGINT),
             CAST(SUM(expected_ppm) AS BIGINT),
             CAST(SUM(intra_ppm) - SUM(expected_ppm) AS BIGINT)
      FROM per
      ORDER BY n_members DESC, label""")),

    // ---- TextRank keywords over the documents corpus: graph-of-words
    //      adjacency (length-≥4 candidates, mirrored, distinct) + 3
    //      uniform PageRank rounds in integer micros, top-30. The
    //      oracle rebuilds the same filtered-adjacency edge list and
    //      unrolls all three iterations.
    ("q209_textrank", (s: SparkSession, dir: String) => {
      textRankKeywords(Tables(s, dir).documents)
    }, Some(s"""
      WITH toks AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+'),
                           x -> len(x) >= 4) AS w
        FROM documents),
      pr0 AS (
        SELECT p['a'] AS a, p['b'] AS b FROM (
          SELECT unnest(list_transform(range(1, len(w)),
                   i -> {'a': w[i], 'b': w[i+1]})) AS p
          FROM toks WHERE len(w) >= 2)
        WHERE p['a'] <> p['b']),
      edges AS (SELECT DISTINCT a AS src, b AS dst FROM pr0
                UNION SELECT DISTINCT b AS src, a AS dst FROM pr0),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
      p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
      r0 AS (SELECT src AS node, CAST(1000000 // n AS BIGINT) AS rank_m
             FROM deg CROSS JOIN p),
      ${prUniformIterSql(1)},
      ${prUniformIterSql(2)},
      ${prUniformIterSql(3)}
      SELECT node AS word, rank_m FROM r3
      ORDER BY rank_m DESC, word LIMIT 30""")),

    // ---- triangle census + clustering coefficients of the part
    //      co-purchase graph (edges = part pairs sharing ≥1 order):
    //      global triangle count, global clustering coefficient
    //      (3·triangles·1e6 DIV Σ_v C(d_v,2) ppm, the transitivity
    //      ratio), and the top-10 local coefficients
    //      (2·tri_v·1e6 DIV d_v(d_v−1)) — the cohesion audit the
    //      modularity/community battery (q208) presupposes, and on a
    //      near-dup pair graph the transitivity certificate for a
    //      similarity threshold (low transitivity ⇒ the "clusters" are
    //      chains, threshold too loose).
    //
    //      Scale shape (Schank–Wagner node-iterator-core / Suri–
    //      Vassilvitskii MR triangles): every edge is ORIENTED from its
    //      lower (degree, id) endpoint, so each triangle is found
    //      exactly once at its minimum-degree vertex and the wedge
    //      self-join's work is Σ_v outdeg(v)² with outdeg ≤ O(√m) —
    //      O(m^1.5) total, never naive Σ deg² (the q158 lesson). The
    //      closure probe is a plain two-column equi-join against the
    //      oriented edge table. Pair generation is basket-bounded
    //      (C(n,2) per order, ≤7 parts/order in TPC-H; the 100 TB
    //      escape is a basket-size cap / hot-basket routing, the q171
    //      block-size discipline). Edges and the oriented table are
    //      Stage.mat'd — each feeds ≥2 consumers.
    ("q257_triangle_census", (s: SparkSession, dir: String) =>
      // basket-bounded pair generation WITHOUT a self-join (shared
      // helper; one shuffle and no 2× recompute of the (o, p) dedup —
      // the self-join form rescanned its input per side, measured
      // 7.2 s → ~2 s at sf0.1). Ships on the adjacency-intersection
      // form (r8 ask #6): ProbeTri measured it 1.4–2.9× faster than
      // the wedge join at sf0.1 (min 5.3 s vs 7.5 s; under host
      // contention 12 s vs 36 s — the packed-array shuffle degrades
      // far more gracefully than the 41M-row wedge stream). Output
      // identical by construction; GraphOpsSpec pins equality.
      triangleCensusAdj(edgeTableMemo(s, dir)(
        partCoPurchaseEdges(Tables(s, dir).lineitem))), Some(s"""
      WITH ${partDegreesSql},
      ori AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
                          THEN e.pa ELSE e.pb END AS u,
                     CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
                          THEN e.pb ELSE e.pa END AS w,
                     CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
                          THEN db.d ELSE da.d END AS dw
              FROM e JOIN deg da ON e.pa = da.v JOIN deg db ON e.pb = db.v),
      wedges AS (SELECT w1.u, w1.w AS x, w1.dw AS dx, w2.w AS y, w2.dw AS dy
                 FROM ori w1 JOIN ori w2 ON w1.u = w2.u AND w1.w < w2.w),
      tri AS (SELECT wd.u, wd.x, wd.y
              FROM wedges wd JOIN ori o2
                ON o2.u = CASE WHEN wd.dx < wd.dy OR (wd.dx = wd.dy AND wd.x < wd.y)
                               THEN wd.x ELSE wd.y END
               AND o2.w = CASE WHEN wd.dx < wd.dy OR (wd.dx = wd.dy AND wd.x < wd.y)
                               THEN wd.y ELSE wd.x END),
      perv AS (SELECT v, CAST(count(*) AS BIGINT) AS tri
               FROM (SELECT u AS v FROM tri UNION ALL SELECT x AS v FROM tri
                     UNION ALL SELECT y AS v FROM tri)
               GROUP BY v),
      tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_tri,
                     CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
                     CAST(count(*) AS BIGINT) AS n_nodes
              FROM deg),
      gsum AS (SELECT CAST(-1 AS BIGINT) AS v, n_nodes AS d, n_tri,
                      CASE WHEN n_wedges = 0 THEN 0
                           ELSE (3 * n_tri * 1000000) // n_wedges END AS cc_ppm
               FROM tot),
      loc AS (SELECT deg.v, deg.d, perv.tri AS n_tri,
                     (2 * perv.tri * 1000000) // (deg.d * (deg.d - 1)) AS cc_ppm
              FROM deg JOIN perv ON deg.v = perv.v
              ORDER BY cc_ppm DESC, deg.v LIMIT 10)
      SELECT v, d, n_tri, cc_ppm FROM gsum
      UNION ALL SELECT v, d, n_tri, cc_ppm FROM loc
      ORDER BY v""")),

    // ---- Adamic–Adar link prediction (Adamic & Adar 2003): which
    //      NON-adjacent part pairs share the most (rarity-weighted)
    //      co-purchase neighbors? AA(x,y) = Σ_{u ∈ Γ(x)∩Γ(y)} 1/ln d(u)
    //      — the classic common-neighbor score that discounts hub
    //      middles. Enumerating every wedge is Σ d(u)² (148M at sf0.1,
    //      quadratic in hub degree at 100 TB), so scoring is COHORT-
    //      BOUNDED by construction: both endpoints must lie in the
    //      deterministic 10% candidate shard (p % 10 = 3; production
    //      sweeps all 10 shards in successive passes), which cuts the
    //      wedge stream to Σ d_Q(u)² ≈ 1% of the full set while centers
    //      u and their degrees stay UNRESTRICTED — the score for a
    //      surviving pair is exact, not sampled. Per-center weight is
    //      integer micros via the q292 ln convention:
    //      w = 1e15 DIV round9ln(d) (d ≥ 2 ⇒ ln ≥ ln 2 > 0). The
    //      adjacency-set pair-explode generates each in-shard pair once
    //      (x < y, sorted-array slice idiom — no wedge self-join);
    //      existing edges leave via LeftAnti; top-20 by (score, pair)
    //      is a TakeOrdered, never a global sort.
    ("q325_adamic_adar", (s: SparkSession, dir: String) =>
      adamicAdarTopK(edgeTableMemo(s, dir)(
        partCoPurchaseEdges(Tables(s, dir).lineitem))), Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      adj AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      adjq AS (SELECT u, v FROM adj WHERE v % 10 = 3),
      deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
      cen AS (SELECT u, 1000000000000000
                   // CAST(round(ln(CAST(d AS DOUBLE)) * 1000000000, 0) AS BIGINT) AS w
              FROM deg WHERE d >= 2),
      wedge AS (SELECT a1.v AS x, a2.v AS y, c.w
                FROM adjq a1 JOIN adjq a2 ON a1.u = a2.u AND a1.v < a2.v
                JOIN cen c ON c.u = a1.u),
      scored AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cn,
                        CAST(SUM(w) AS BIGINT) AS aa_micros
                 FROM wedge GROUP BY x, y),
      ne AS (SELECT s.x, s.y, s.cn, s.aa_micros
             FROM scored s LEFT JOIN e ON s.x = e.pa AND s.y = e.pb
             WHERE e.pa IS NULL)
      SELECT x, y, cn, aa_micros FROM ne
      ORDER BY aa_micros DESC, x, y LIMIT 20""")),

    // ---- Moran's I + Geary's C (Moran 1950; Geary 1954) over the
    //      co-purchase graph with x = part size: do baskets co-purchase
    //      SIMILAR-sized parts (I > E[I], C < 1) or do sizes
    //      anti-assort? The graph-autocorrelation complement of q142's
    //      degree assortativity — same edge table, node ATTRIBUTE
    //      instead of degree. Exactness trick: center by the n-SCALED
    //      deviation d_i = n·x_i − Σx (an integer; the n² factor
    //      cancels in I's ratio and is restored explicitly in C's), so
    //      neither mean nor variance is ever a float:
    //        I = (n/2m)·Σ_ij w·(x_i−x̄)(x_j−x̄)/Σ(x−x̄)²
    //          → sign(Se) and 1e6·n·|Se| DIV (m·Sd2)
    //        C = ((n−1)/2m)·Σ_ij w·(x_i−x_j)²/(2·Σ(x−x̄)²)... cleared:
    //          → 1e6·(n−1)·n²·ΣE(Δx)² DIV (2·m·Sd2)
    //      with Se = Σ_edges d_a·d_b, Sd2 = n²Σx² − n(Σx)² = Σd².
    //      Signed Se keeps its sign OUT of the division (truncating DIV
    //      on negatives differs between engines — the olsMicros r_sign
    //      discipline). E[I] = −1/(n−1) ships as positive nanos with
    //      the documented sign. One edge-table join pass + one node
    //      aggregate — linear, shuffle on the part key only.
    ("q328_morans_i", (s: SparkSession, dir: String) => {
      val e = edgeTableMemo(s, dir)(
        partCoPurchaseEdges(Tables(s, dir).lineitem))
      val xs = graft.Stage.mat(
        e.select(col("pa").as("v")).unionByName(e.select(col("pb").as("v")))
          .distinct()
          .join(Tables(s, dir).part.selectExpr("p_partkey AS v",
            "CAST(p_size AS BIGINT) AS x"), Seq("v")))
      val tot = xs.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(expr("x * x")).as("sxx"))
      val edgeAgg = e
        .join(xs.select(col("v").as("pa"), col("x").as("xa")), Seq("pa"))
        .join(xs.select(col("v").as("pb"), col("x").as("xb")), Seq("pb"))
        .crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("m"),
          sum(expr("CAST(n * xa - sx AS DECIMAL(38,0)) * (n * xb - sx)")).as("se"),
          sum(expr("CAST(xa - xb AS DECIMAL(38,0)) * (xa - xb)")).as("sdx"))
      edgeAgg.crossJoin(broadcast(tot))
        .withColumn("sd2", expr(
          "CAST(n AS DECIMAL(38,0)) * n * sxx - CAST(n AS DECIMAL(38,0)) * sx * sx"))
        .selectExpr("n", "m",
          "CAST(CASE WHEN se > 0 THEN 1 WHEN se < 0 THEN -1 ELSE 0 END AS BIGINT) AS i_sign",
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * n * abs(se))
               DIV greatest(CAST(m AS DECIMAL(38,0)) * sd2, 1) AS BIGINT)
             AS i_abs_micros""",
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * (n - 1) * n * n * sdx)
               DIV greatest(CAST(2 AS DECIMAL(38,0)) * m * sd2, 1) AS BIGINT)
             AS c_micros""",
          "CAST(1000000000 DIV (n - 1) AS BIGINT) AS neg_e_i_nanos")
    }, Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      xs AS (SELECT v, CAST(p_size AS BIGINT) AS x
             FROM (SELECT pa AS v FROM e UNION SELECT pb AS v FROM e) nodes
             JOIN part ON p_partkey = v),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(x * x) AS BIGINT) AS sxx
              FROM xs),
      ea AS (SELECT CAST(count(*) AS BIGINT) AS m,
                    CAST(SUM(CAST(n * xa.x - sx AS HUGEINT) * (n * xb.x - sx))
                      AS HUGEINT) AS se,
                    CAST(SUM(CAST(xa.x - xb.x AS HUGEINT) * (xa.x - xb.x))
                      AS HUGEINT) AS sdx
             FROM e JOIN xs xa ON e.pa = xa.v JOIN xs xb ON e.pb = xb.v
             CROSS JOIN tot)
      SELECT n, m,
             CAST(CASE WHEN se > 0 THEN 1 WHEN se < 0 THEN -1 ELSE 0 END AS BIGINT)
               AS i_sign,
             CAST((CAST(1000000 AS HUGEINT) * n * abs(se))
                  // GREATEST(CAST(m AS HUGEINT)
                       * (CAST(n AS HUGEINT) * n * sxx - CAST(n AS HUGEINT) * sx * sx), 1)
                  AS BIGINT) AS i_abs_micros,
             CAST((CAST(1000000 AS HUGEINT) * (n - 1) * n * n * sdx)
                  // GREATEST(CAST(2 AS HUGEINT) * m
                       * (CAST(n AS HUGEINT) * n * sxx - CAST(n AS HUGEINT) * sx * sx), 1)
                  AS BIGINT) AS c_micros,
             CAST(1000000000 // (n - 1) AS BIGINT) AS neg_e_i_nanos
      FROM ea CROSS JOIN tot""")),

    // ---- harmonic centrality, 3-hop truncation (Boldi & Vigna 2014's
    //      recommended closeness replacement — finite on disconnected
    //      graphs): H(s) = Σ_{v≠s} 1/d(s,v), truncated at hop 3 (hops
    //      beyond contribute ≤ 1/4 each and the co-purchase graph's
    //      effective diameter is small; the truncation is the
    //      documented contract, same spirit as q158's 2-hop reach).
    //      Computed for a SEED COHORT (the 10 smallest node ids — a
    //      TakeOrdered, broadcast everywhere) because all-sources BFS
    //      is O(n·m); the cohort rides ONE bit-parallel multi-source
    //      BFS (see the in-body comment) so each hop costs one
    //      edge-join + bit_or aggregate regardless of seed count ≤ 64.
    //      Hop weights are exact integer micros (1e6 DIV h = 1000000 /
    //      500000 / 333333), so H needs no floats at all. Output per
    //      seed: per-hop BFS level sizes + harmonic_micros.
    ("q330_harmonic_3hop", (s: SparkSession, dir: String) => {
      // Multi-source BFS with bit-parallel seed masks (the MS-BFS /
      // HyperBall trick, Then et al. 2014): one 10-bit mask per NODE
      // instead of one row per (seed, node), so every hop is a single
      // edge-join + bit_or aggregate over a node-sized table — the
      // per-seed frontier form streamed 17M candidate rows into a
      // distinct + two anti-joins (measured 8.3 s at sf0.1; this form
      // ~4× cheaper). A_h(v) = mask of seeds within h hops; the hop-h
      // level set per seed is bit(A_h) ∧ ¬bit(A_{h−1}), and A₀ seeds
      // themselves so s never counts in its own levels.
      import org.apache.spark.sql.expressions.Window
      val e = edgeTableMemo(s, dir)(
        partCoPurchaseEdges(Tables(s, dir).lineitem))
      val adj = graft.Stage.mat(
        e.select(col("pa").as("u"), col("pb").as("v"))
          .unionByName(e.select(col("pb").as("u"), col("pa").as("v"))))
      val sIdx = graft.Stage.mat(adj.select(col("u").as("s")).distinct()
        .orderBy(col("s")).limit(10)
        .withColumn("idx",
          (row_number().over(Window.orderBy(col("s"))) - 1).cast("int")))
      val a0 = sIdx.selectExpr("s AS v", "shiftleft(CAST(1 AS BIGINT), idx) AS m")
      def hop(a: DataFrame): DataFrame = graft.Stage.mat(
        adj.join(a.select(col("v").as("u"), col("m")), Seq("u"))
          .select(col("v"), col("m"))
          .unionByName(a)
          .groupBy(col("v")).agg(expr("bit_or(m)").as("m")))
      val a1 = hop(graft.Stage.mat(a0))
      val a2 = hop(a1)
      val a3 = hop(a2)
      val masks = a3.select(col("v"), col("m").as("m3"))
        .join(a2.select(col("v"), col("m").as("m2")), Seq("v"), "left")
        .join(a1.select(col("v"), col("m").as("m1")), Seq("v"), "left")
        .join(a0.select(col("v"), col("m").as("m0")), Seq("v"), "left")
        .selectExpr("v", "coalesce(m0, CAST(0 AS BIGINT)) AS m0",
          "coalesce(m1, CAST(0 AS BIGINT)) AS m1",
          "coalesce(m2, CAST(0 AS BIGINT)) AS m2", "m3")
      masks.crossJoin(broadcast(sIdx))
        .selectExpr("s",
          "(shiftright(m1, idx) & 1) * (1 - (shiftright(m0, idx) & 1)) AS b1",
          "(shiftright(m2, idx) & 1) * (1 - (shiftright(m1, idx) & 1)) AS b2",
          "(shiftright(m3, idx) & 1) * (1 - (shiftright(m2, idx) & 1)) AS b3")
        .groupBy(col("s"))
        .agg(sum(col("b1")).as("n1"), sum(col("b2")).as("n2"),
          sum(col("b3")).as("n3"))
        .selectExpr("s", "n1", "n2", "n3",
          "n1 * 1000000 + n2 * 500000 + n3 * 333333 AS harmonic_micros")
        .orderBy(col("s"))
    }, Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      adj AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      seeds AS (SELECT DISTINCT u AS s FROM adj ORDER BY s LIMIT 10),
      h1 AS (SELECT DISTINCT sd.s, a.v FROM seeds sd JOIN adj a ON a.u = sd.s),
      h2 AS (SELECT DISTINCT f.s, a.v
             FROM h1 f JOIN adj a ON a.u = f.v
             WHERE a.v <> f.s
               AND NOT EXISTS (SELECT 1 FROM h1 p
                               WHERE p.s = f.s AND p.v = a.v)),
      h3 AS (SELECT DISTINCT f.s, a.v
             FROM h2 f JOIN adj a ON a.u = f.v
             WHERE a.v <> f.s
               AND NOT EXISTS (SELECT 1 FROM h2 p
                               WHERE p.s = f.s AND p.v = a.v)
               AND NOT EXISTS (SELECT 1 FROM h1 p
                               WHERE p.s = f.s AND p.v = a.v)),
      c1 AS (SELECT s, CAST(count(*) AS BIGINT) AS n1 FROM h1 GROUP BY s),
      c2 AS (SELECT s, CAST(count(*) AS BIGINT) AS n2 FROM h2 GROUP BY s),
      c3 AS (SELECT s, CAST(count(*) AS BIGINT) AS n3 FROM h3 GROUP BY s)
      SELECT sd.s, COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2,
             COALESCE(n3, 0) AS n3,
             COALESCE(n1, 0) * 1000000 + COALESCE(n2, 0) * 500000
               + COALESCE(n3, 0) * 333333 AS harmonic_micros
      FROM seeds sd
      LEFT JOIN c1 ON c1.s = sd.s
      LEFT JOIN c2 ON c2.s = sd.s
      LEFT JOIN c3 ON c3.s = sd.s
      ORDER BY sd.s""")),

    // ---- k-truss peel, k = 4 (Cohen 2008): iteratively delete edges
    //      supported by fewer than k−2 = 2 triangles — the cohesive-
    //      subgraph family's edge-wise member beside q138/q311's
    //      vertex-wise cores (a 4-truss edge set is strictly stronger
    //      than a 3-core). Three synchronous peel rounds over the
    //      deterministic 25% order cohort (o % 4 = 0 — triangle work is
    //      O(m^1.5), so the cohort bounds each round's wedge stream the
    //      way q325's shard bounds its pairs; production sweeps
    //      cohorts). Since round 11 the peel is DELTA-SUPPORT
    //      (the edge-wise q138 lesson; the round-11 form is now the test
    //      reference GraphRefs.kTrussRounds): the triangle
    //      enumeration runs ONCE — in the q257 compact-adjacency form
    //      ([[triangleListAdj]]; ProbeTruss measured 3.5× less CPU than
    //      the wedge join on this graph) — and rounds 2+ are triangle-
    //      scale filters (three semi-joins against the kept edges) —
    //      value-identical to per-round re-enumeration because a
    //      peeled subgraph's triangles are exactly the original
    //      triangles whose three edges survive. Round summaries (edges
    //      in, triangles, edges kept with sup ≥ 2) are assembled
    //      plan-side — no driver collects. The oracle unrolls the SAME
    //      three rounds as re-enumerated MATERIALIZED CTEs (the q311
    //      warm-start discipline), so the delta path is value-checked
    //      against full recomputation round for round.
    ("q335_ktruss_peel", (s: SparkSession, dir: String) => {
      // round 14: ships the INCREMENTAL-support peel ([[kTrussRoundsInc]],
      // VERDICT r13 ask #4) — triangle enumeration still runs once; each
      // round now updates only the supports of edges incident to the
      // peel delta instead of re-aggregating the full triangle list, and
      // the per-round shuffle semi-joins become removed-sized lookups.
      // Output identical (GraphOpsSpec pins inc ≡ classic; same oracle).
      kTrussRoundsInc(edgeTableMemo(s, dir, "mod4")(partCoPurchaseEdges(
          Tables(s, dir).lineitem.filter(pmod(col("l_orderkey"), lit(4)) === 0))))
    }, Some {
      def roundSql(e: String, p: String) = s"""
      ${p}deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d
                 FROM (SELECT pa AS v FROM $e UNION ALL SELECT pb AS v FROM $e)
                 GROUP BY v),
      ${p}ori AS MATERIALIZED (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND ee.pa < ee.pb)
                    THEN ee.pa ELSE ee.pb END AS u,
               CASE WHEN da.d < db.d OR (da.d = db.d AND ee.pa < ee.pb)
                    THEN ee.pb ELSE ee.pa END AS w,
               CASE WHEN da.d < db.d OR (da.d = db.d AND ee.pa < ee.pb)
                    THEN db.d ELSE da.d END AS dw
        FROM $e ee JOIN ${p}deg da ON ee.pa = da.v
        JOIN ${p}deg db ON ee.pb = db.v),
      ${p}tri AS MATERIALIZED (
        SELECT wd.u, wd.x, wd.y
        FROM (SELECT w1.u, w1.w AS x, w1.dw AS dx, w2.w AS y, w2.dw AS dy
              FROM ${p}ori w1 JOIN ${p}ori w2
                ON w1.u = w2.u AND w1.w < w2.w) wd
        JOIN ${p}ori o2
          ON o2.u = CASE WHEN wd.dx < wd.dy OR (wd.dx = wd.dy AND wd.x < wd.y)
                         THEN wd.x ELSE wd.y END
         AND o2.w = CASE WHEN wd.dx < wd.dy OR (wd.dx = wd.dy AND wd.x < wd.y)
                         THEN wd.y ELSE wd.x END),
      ${p}sup AS MATERIALIZED (
        SELECT pa, pb, CAST(count(*) AS BIGINT) AS sup FROM (
          SELECT LEAST(u, x) AS pa, GREATEST(u, x) AS pb FROM ${p}tri
          UNION ALL SELECT LEAST(u, y), GREATEST(u, y) FROM ${p}tri
          UNION ALL SELECT LEAST(x, y), GREATEST(x, y) FROM ${p}tri)
        GROUP BY pa, pb),
      ${p}next AS MATERIALIZED (SELECT pa, pb FROM ${p}sup WHERE sup >= 2)"""
      s"""
      WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % 4 = 0),
      e0 AS MATERIALIZED (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      ${roundSql("e0", "r1")},
      ${roundSql("r1next", "r2")},
      ${roundSql("r2next", "r3")}
      SELECT CAST(1 AS BIGINT) AS round,
             (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges_in,
             (SELECT CAST(count(*) AS BIGINT) FROM r1tri) AS n_tri,
             (SELECT CAST(count(*) AS BIGINT) FROM r1next) AS n_kept
      UNION ALL
      SELECT 2, (SELECT count(*) FROM r1next), (SELECT count(*) FROM r2tri),
             (SELECT count(*) FROM r2next)
      UNION ALL
      SELECT 3, (SELECT count(*) FROM r2next), (SELECT count(*) FROM r3tri),
             (SELECT count(*) FROM r3next)
      ORDER BY round"""
    }),

    // ---- eigenvector centrality, 3 EXACT power iterations (Bonacich
    //      1972): v₃(u) = Σ_{paths of length 3 ending at u} 1 — the
    //      prestige ranking that weighs neighbors by THEIR importance,
    //      completing the centrality family (degree-implicit, q117/
    //      q127/q136 PageRank, q137 HITS, q311 coreness, q330
    //      harmonic). With v₀ ≡ 1 every iterate is an exact INTEGER
    //      walk count (v₁ = degree, v₂ = Σ neighbor degrees, v₃ ≤
    //      deg_max³ — inside BIGINT to deg_max ≈ 2M), so no float
    //      normalization ever happens in-plan; the ranking reports
    //      score_ppm = 1e6·v₃ DIV max(v₃) at the end. Three edge-join +
    //      re-aggregate rounds — the scale shape of one PageRank
    //      iteration each, no damping vector to carry.
    ("q342_eigencentrality", (s: SparkSession, dir: String) =>
      eigenCentralityTopK(
        edgeTableMemo(s, dir)(partCoPurchaseEdges(Tables(s, dir).lineitem)))
    , Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      adj AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      v1 AS (SELECT u AS v, CAST(count(*) AS BIGINT) AS s FROM adj GROUP BY u),
      v2 AS (SELECT a.u AS v, CAST(SUM(p.s) AS BIGINT) AS s
             FROM adj a JOIN v1 p ON a.v = p.v GROUP BY a.u),
      v3 AS (SELECT a.u AS v, CAST(SUM(p.s) AS BIGINT) AS s
             FROM adj a JOIN v2 p ON a.v = p.v GROUP BY a.u),
      mx AS (SELECT MAX(s) AS smax FROM v3)
      SELECT v, s AS walks3,
             CAST((CAST(1000000 AS HUGEINT) * s) // smax AS BIGINT) AS score_ppm
      FROM v3 CROSS JOIN mx
      ORDER BY score_ppm DESC, v LIMIT 20""")),

    // ---- edge reciprocity (Garlaschelli & Loffredo 2004) of the
    //      DIRECTED part-succession graph: within each order, each
    //      line-sequence step contributes the directed edge
    //      (part → next part); reciprocity asks whether successions
    //      run both ways across baskets (symmetric co-occurrence) or
    //      one way (a catalog-order artifact) — structure every
    //      undirected query (q257/q290/q335…) is blind to by
    //      construction. r = reciprocated/|E| on the distinct directed
    //      edge set; the report also carries Garlaschelli's
    //      density-corrected ρ = (r − ā)/(1 − ā) with ā = |E|/(n(n−1)),
    //      which strips the reciprocity any random digraph of this
    //      density would show. All exact-integer ppm, single truncating
    //      DIVs.
    //
    //      Scale shape: succession edges ride a window PARTITIONED BY
    //      order (basket-sized partitions; the (ln, p) sort key makes
    //      the edge SET deterministic under duplicate lines), the
    //      mutual count is ONE self-semi-join on the reversed key —
    //      never a wedge or pair enumeration.
    ("q348_reciprocity", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o")).orderBy(col("ln"), col("p"))
      val e = graft.Stage.mat(Tables(s, dir).lineitem
        .selectExpr("l_orderkey AS o", "l_linenumber AS ln", "l_partkey AS p")
        .withColumn("np", lead(col("p"), 1).over(w))
        .filter(col("np").isNotNull && col("np") =!= col("p"))
        .select(col("p").as("src"), col("np").as("dst")).distinct())
      val recip = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      val nodes = e.select(col("src").as("v"))
        .unionByName(e.select(col("dst").as("v"))).distinct()
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
        .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
        // BIGINT contract: 1000000*n_recip and 1000000*n_edges stay in
        // range for n_edges ≤ 9.2e12; n_nodes*(n_nodes-1) for
        // n_nodes ≤ 3.0e9 — both orders of magnitude past a 100 TB part
        // catalog. greatest(...,1) guards the no-edge fixture (all
        // single-line orders), matching rho_ppm's own denominator.
        .selectExpr("n_nodes", "n_edges", "n_recip DIV 2 AS n_mutual_pairs",
          "(1000000 * n_recip) DIV greatest(n_edges, 1) AS r_ppm",
          """(1000000 * n_edges)
             DIV greatest(n_nodes * (n_nodes - 1), 1) AS abar_ppm""")
        .selectExpr("n_nodes", "n_edges", "n_mutual_pairs", "r_ppm",
          "abar_ppm",
          """CAST((1000000 * (r_ppm - abar_ppm))
               DIV greatest(1000000 - abar_ppm, 1) AS BIGINT) AS rho_ppm""")
    }, Some("""
      WITH seqd AS (
        SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p,
               lead(l_partkey) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber, l_partkey) AS np
        FROM lineitem),
      e AS (SELECT DISTINCT p AS src, np AS dst
            FROM seqd WHERE np IS NOT NULL AND np <> p),
      recip AS (SELECT CAST(count(*) AS BIGINT) AS n_recip
                FROM e a WHERE EXISTS (SELECT 1 FROM e b
                                       WHERE b.src = a.dst AND b.dst = a.src)),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes
             FROM (SELECT src AS v FROM e UNION SELECT dst FROM e)),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
      b AS (SELECT n_nodes, n_edges, n_recip // 2 AS n_mutual_pairs,
                   (1000000 * n_recip) // GREATEST(n_edges, 1) AS r_ppm,
                   (1000000 * n_edges)
                     // GREATEST(n_nodes * (n_nodes - 1), 1) AS abar_ppm
            FROM m CROSS JOIN recip CROSS JOIN nn)
      SELECT n_nodes, n_edges, n_mutual_pairs, r_ppm, abar_ppm,
             CAST((1000000 * (r_ppm - abar_ppm))
                  // GREATEST(1000000 - abar_ppm, 1) AS BIGINT) AS rho_ppm
      FROM b""")),

    // ---- weighted single-source shortest path (bounded Bellman–Ford,
    //      Bellman 1958 / the delta-stepping frontier discipline of
    //      Meyer & Sanders 2003): the graph battery's MIN-PLUS
    //      SEMIRING member — q158's k-hop reach is boolean reachability
    //      and q330's MS-BFS counts unweighted hops; nothing yet
    //      propagates weighted DISTANCES. Edge weight = |p_size(pa) −
    //      p_size(pb)| + 1 over the shared co-purchase edge table
    //      (parts of similar size are "close"), source = the smallest
    //      part key in the graph, H = 4 relaxation rounds.
    //
    //      Scale shape: the DELTA form — round i relaxes ONLY the
    //      frontier (nodes improved in round i−1), so each round is one
    //      frontier⋈adjacency hash join + a dst-keyed min aggregate +
    //      a node-sized min-merge (union + groupBy min: min-plus is
    //      idempotent, so merge-by-min IS the fixpoint step); state is
    //      node-sized, lineage cut per round (Stage.mat, the
    //      connectedComponents precedent). At 100 TB: bucket adj and
    //      dist by node key for shuffle-free rounds. The oracle unrolls
    //      the SAME four rounds as CTEs (the PageRank convention) —
    //      exact BIGINT distances, no FP. Weights ≤ 50+1, so
    //      dist ≤ 204: BIGINT by construction at any scale.
    //
    //      Output: the 20 nearest (dist, node) pairs under a total
    //      order + the v = −1 summary row (the census convention)
    //      carrying n_reached within 4 hops.
    ("q358_sssp_weighted", (s: SparkSession, dir: String) => {
      val adj = edgeTableMemo(s, dir, "copurchase_wadj", Seq("lineitem", "part"))(
        ssspWeightedAdj(s, dir))
      // no-edge guard (ADVICE r12): an empty adjacency makes MIN(u)
      // NULL, and Spark orders NULLs first ascending while DuckDB
      // orders them last — drop the degenerate row on BOTH engines
      // (oracle: HAVING COUNT(*) > 0); the summary row then reports
      // n_reached = 0, the reciprocity zero-edge convention.
      val d0 = graft.Stage.mat(
        adj.agg(min(col("u")).as("node"))
          .filter(col("node").isNotNull)
          .selectExpr("node", "CAST(0 AS BIGINT) AS d"))
      val (dist, _) = (1 to 4).foldLeft((d0, d0)) {
        case ((dist, frontier), _) =>
          // no join hint: the frontier is node-sized, so AQE broadcasts
          // it and the adjacency never shuffles (probed: forcing
          // SHUFFLE_HASH on the frontier build side re-shuffled the
          // 2.4M-row adjacency every round — 14.8 → 32.5 s CPU)
          val cand = frontier
            .join(adj, frontier("node") === adj("u"))
            .selectExpr("v AS node", "d + w AS nd")
            .groupBy(col("node")).agg(min(col("nd")).as("nd"))
          val improved = graft.Stage.mat(cand
            .join(dist.selectExpr("node", "d AS dp"), Seq("node"), "left")
            .filter(col("dp").isNull || col("nd") < col("dp"))
            .selectExpr("node", "nd AS d"))
          val merged = graft.Stage.mat(dist.unionByName(improved)
            .groupBy(col("node")).agg(min(col("d")).as("d")))
          (merged, improved)
      }
      dist.orderBy(col("d"), col("node")).limit(20)
        .selectExpr("node", "d AS dist", "CAST(0 AS BIGINT) AS n_reached")
        .unionByName(dist.agg(count(lit(1)).as("n_reached"))
          .selectExpr("CAST(-1 AS BIGINT) AS node", "CAST(0 AS BIGINT) AS dist",
            "n_reached"))
        .orderBy(col("node"), col("dist"))
    }, Some {
      def round(i: Int): String = {
        val (p, f) = (s"d${i - 1}", s"f${i - 1}")
        s"""c$i AS (SELECT adj.v AS node, MIN(f.d + adj.w) AS nd
              FROM $f f JOIN adj ON adj.u = f.node GROUP BY adj.v),
      f$i AS (SELECT c.node, c.nd AS d FROM c$i c
              LEFT JOIN $p p ON p.node = c.node
              WHERE p.node IS NULL OR c.nd < p.d),
      d$i AS (SELECT node, MIN(d) AS d
              FROM (SELECT * FROM $p UNION ALL SELECT * FROM f$i)
              GROUP BY node)"""
      }
      s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      pz AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS sz FROM part),
      ew AS (SELECT pa, pb, abs(sa.sz - sb.sz) + 1 AS w
             FROM e JOIN pz sa ON sa.p_partkey = e.pa
                    JOIN pz sb ON sb.p_partkey = e.pb),
      adj AS (SELECT pa AS u, pb AS v, w FROM ew
              UNION ALL SELECT pb, pa, w FROM ew),
      d0 AS (SELECT MIN(pa) AS node, CAST(0 AS BIGINT) AS d FROM e
             HAVING COUNT(*) > 0),
      f0 AS (SELECT * FROM d0),
      ${(1 to 4).map(round).mkString(",\n      ")}
      SELECT node, d AS dist, CAST(0 AS BIGINT) AS n_reached
      FROM (SELECT node, d FROM d4 ORDER BY d, node LIMIT 20)
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
             (SELECT CAST(count(*) AS BIGINT) FROM d4)
      ORDER BY node, dist"""
    })
  )
}
