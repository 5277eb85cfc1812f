package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.{CurationOps, GraphOps}

/** Reference forms of the graph kernels whose declared queries ship a
  * faster equivalent in [[graft.analytics.GraphOps]]. Each one is the
  * straightforward algorithm the shipped form was derived from; the
  * specs pin the shipped form against it on hand graphs and on the
  * sf0.001 cohort:
  *
  *  - [[kCorePeel]] for `GraphOps.kCorePeelDelta` (q138, q311);
  *  - [[triangleCensus]] for `GraphOps.triangleCensusAdj` (q257);
  *  - [[triangleList]] / [[edgeSupport]] and [[kTrussRounds]] for
  *    `GraphOps.kTrussRoundsInc` (q335);
  *  - [[percolationSweepShared]], the shared-work alternative to
  *    `CurationOps.percolationSweep`'s independent CC per threshold (q308).
  */
object GraphRefs {

  /** Synchronous k-core peel: `rounds` fixed rounds of "drop every node
    * whose degree among surviving nodes is < k" over a mirrored,
    * deduplicated edge list, re-deriving degrees and re-filtering the
    * whole edge list every round. Returns (members: (node, d) with
    * d = degree inside the final surviving subgraph, converged: one-row
    * boolean, |alive| unchanged over the last round). The DuckDB oracle
    * of q138/q311 (`kcoreSql`) unrolls exactly these rounds.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 2, "need >= 2 rounds for the convergence certificate")
    var e = graft.Stage.mat(edges.select(col("src"), col("dst")))
    var alive: DataFrame = null
    var prev: DataFrame = null
    for (i <- 1 to rounds) {
      alive = graft.Stage.mat(
        e.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("src").as("node")))
      if (i == rounds - 1) prev = alive.agg(count(lit(1)).as("n_prev"))
      e = graft.Stage.mat(
        e.join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi"))
    }
    val d = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val conv = alive.agg(count(lit(1)).as("n_final")).crossJoin(broadcast(prev))
      .select((col("n_final") === col("n_prev")).as("converged"))
    val members = alive.join(d.select(col("src").as("node"), col("d")), Seq("node"), "left")
      .select(col("node"), coalesce(col("d"), lit(0L)).as("d"))
    (members, conv)
  }

  /** q257's census by the wedge JOIN: edges oriented from their lower
    * (degree, id) endpoint, wedges self-joined at their shared source,
    * each wedge closed by an equi-join probe against the oriented edge
    * table. Same output contract as `GraphOps.triangleCensusAdj`.
    */
  def triangleCensus(e: DataFrame): DataFrame = {
    val deg = e.select(col("pa").as("v")).unionByName(e.select(col("pb").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    val ori = graft.Stage.mat(
      e.join(deg.select(col("v").as("pa"), col("d").as("da")), Seq("pa"))
        .join(deg.select(col("v").as("pb"), col("d").as("db")), Seq("pb"))
        .select(when(lower, col("pa")).otherwise(col("pb")).as("u"),
          when(lower, col("pb")).otherwise(col("pa")).as("w"),
          when(lower, col("db")).otherwise(col("da")).as("dw")))
    val wedges = ori.select(col("u"), col("w").as("x"), col("dw").as("dx"))
      .join(ori.select(col("u"), col("w").as("y"), col("dw").as("dy"))
        .hint("shuffle_hash"), Seq("u"))
      .filter(col("x") < col("y"))
    val xLower = col("dx") < col("dy") ||
      (col("dx") === col("dy") && col("x") < col("y"))
    val tri = graft.Stage.mat(wedges
      .select(col("u"), col("x"), col("y"),
        when(xLower, col("x")).otherwise(col("y")).as("clo"),
        when(xLower, col("y")).otherwise(col("x")).as("chi"))
      .join(ori.select(col("u").as("clo"), col("w").as("chi"))
        .hint("shuffle_hash"), Seq("clo", "chi"))
      .select(col("u"), col("x"), col("y")))
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

  /** Triangle enumeration by the wedge join over a distinct undirected
    * edge table (pa < pb): one row (u, x, y) per triangle, found once at
    * its min-degree vertex. Same triangle set as
    * `GraphOps.triangleListAdj`.
    */
  def triangleList(e: DataFrame): DataFrame = {
    val deg = e.select(col("pa").as("v")).unionByName(e.select(col("pb").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    val ori = graft.Stage.mat(e
      .join(deg.select(col("v").as("pa"), col("d").as("da")), Seq("pa"))
      .join(deg.select(col("v").as("pb"), col("d").as("db")), Seq("pb"))
      .select(when(lower, col("pa")).otherwise(col("pb")).as("u"),
        when(lower, col("pb")).otherwise(col("pa")).as("w"),
        when(lower, col("db")).otherwise(col("da")).as("dw")))
    val wedges = ori.as("w1")
      .join(ori.as("w2").hint("shuffle_hash"),
        col("w1.u") === col("w2.u") && col("w1.w") < col("w2.w"))
      .select(col("w1.u").as("cu"), col("w1.w").as("x"), col("w1.dw").as("dx"),
        col("w2.w").as("y"), col("w2.dw").as("dy"))
    val innerLower = col("dx") < col("dy") ||
      (col("dx") === col("dy") && col("x") < col("y"))
    wedges
      .join(ori.as("o2").hint("shuffle_hash"),
        col("o2.u") === when(innerLower, col("x")).otherwise(col("y")) &&
          col("o2.w") === when(innerLower, col("y")).otherwise(col("x")))
      .select(col("cu").as("u"), col("x"), col("y"))
  }

  /** Per-edge support from a triangle list: each triangle credits its
    * THREE canonical edges.
    */
  def triEdgeSupport(tri: DataFrame): DataFrame =
    tri.select(least(col("u"), col("x")).as("pa"),
        greatest(col("u"), col("x")).as("pb"))
      .unionByName(tri.select(least(col("u"), col("y")).as("pa"),
        greatest(col("u"), col("y")).as("pb")))
      .unionByName(tri.select(least(col("x"), col("y")).as("pa"),
        greatest(col("x"), col("y")).as("pb")))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sup"))

  /** Per-edge triangle support over a distinct undirected edge table
    * (pa < pb), re-enumerating every triangle: the k-truss peel
    * primitive (Cohen 2008). Support rows cover exactly the edges that
    * close ≥ 1 triangle, so Σ sup = 3·|triangles|.
    */
  def edgeSupport(e: DataFrame): DataFrame =
    triEdgeSupport(triangleList(e))

  /** Delta-support k-truss peel: the triangle enumeration runs once,
    * and every round re-aggregates the full surviving triangle list into
    * a support table, then keeps the triangles whose three edges survive
    * (three semi-joins against the kept-edge set). Round summaries
    * (edges in, triangles, edges kept with sup ≥ minSup) equal
    * re-running [[edgeSupport]] per round.
    */
  def kTrussRounds(e: DataFrame, rounds: Int, minSup: Int): DataFrame = {
    var eCur = graft.Stage.mat(e)
    var tri = graft.Stage.mat(GraphOps.triangleListAdj(eCur).select(
      least(col("u"), col("x")).as("a1"), greatest(col("u"), col("x")).as("b1"),
      least(col("u"), col("y")).as("a2"), greatest(col("u"), col("y")).as("b2"),
      least(col("x"), col("y")).as("a3"), greatest(col("x"), col("y")).as("b3")))
    val rows = (1 to rounds).map { r =>
      val sup = graft.Stage.mat(
        tri.select(col("a1").as("pa"), col("b1").as("pb"))
          .unionByName(tri.select(col("a2").as("pa"), col("b2").as("pb")))
          .unionByName(tri.select(col("a3").as("pa"), col("b3").as("pb")))
          .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sup")))
      val next = graft.Stage.mat(
        sup.filter(col("sup") >= minSup).select(col("pa"), col("pb")))
      val row = eCur.agg(count(lit(1)).as("n_edges_in"))
        .crossJoin(tri.agg(count(lit(1)).as("n_tri")))
        .crossJoin(next.agg(count(lit(1)).as("n_kept")))
        .selectExpr(s"CAST($r AS BIGINT) AS round", "n_edges_in", "n_tri",
          "n_kept")
      if (r < rounds) {
        tri = graft.Stage.mat(tri
          .join(next.select(col("pa").as("a1"), col("pb").as("b1")),
            Seq("a1", "b1"), "left_semi")
          .join(next.select(col("pa").as("a2"), col("pb").as("b2")),
            Seq("a2", "b2"), "left_semi")
          .join(next.select(col("pa").as("a3"), col("pb").as("b3")),
            Seq("a3", "b3"), "left_semi"))
      }
      eCur = next
      row
    }
    rows.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** q308's sweep with SHARED connected-components work: thresholds run
    * DESCENDING, and since e(t_high) ⊆ e(t_low) moving down a threshold
    * only adds edges, so components only merge. Each lower level maps
    * its edges' endpoints through the previous level's labels (nodes
    * that level never linked map to themselves), drops the now-internal
    * self-loops, and runs CC on the contracted supernode graph. Every
    * supernode label is the min node id of its sub-component, so the
    * composed label is the min node id of the merged component — the
    * same stats as an independent CC per threshold.
    */
  def percolationSweepShared(emb: DataFrame,
                             thresholds: Seq[Int] = Seq(35, 50, 65)): DataFrame = {
    val pairs = CurationOps.percolationPairs(emb, thresholds.min, None)
    var prevLabels: Option[DataFrame] = None
    val stats = thresholds.sorted.reverse.map { t =>
      val et = graft.Stage.mat(pairs.filter(col("cos_r") >= t / 100.0)
        .select(col("id_a"), col("id_b")))
      val labels = prevLabels match {
        case Some(pl) =>
          val contracted = et
            .join(pl.select(col("v").as("id_a"), col("lbl").as("sa")), Seq("id_a"), "left")
            .join(pl.select(col("v").as("id_b"), col("lbl").as("sb")), Seq("id_b"), "left")
            .select(coalesce(col("sa"), col("id_a")).as("id_a"),
              coalesce(col("sb"), col("id_b")).as("id_b"))
            .filter(col("id_a") =!= col("id_b"))
            .distinct()
          val cc2 = graft.text.Dedup.connectedComponents(contracted)
            .select(col("doc_id").as("s1"), col("cluster_id").as("slbl"))
          val nodes = et.select(col("id_a").as("v"))
            .unionByName(et.select(col("id_b").as("v"))).distinct()
          nodes.join(pl, Seq("v"), "left")
            .withColumn("s1", coalesce(col("lbl"), col("v")))
            .join(cc2, Seq("s1"), "left")
            .select(col("v"), coalesce(col("slbl"), col("s1")).as("lbl"))
        case None =>
          graft.text.Dedup.connectedComponents(et)
            .select(col("doc_id").as("v"), col("cluster_id").as("lbl"))
      }
      val labM = graft.Stage.mat(labels)
      prevLabels = Some(labM)
      CurationOps.percolationLevelStat(t, et, labM)
    }
    stats.reduce(_ unionByName _)
      .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_total"))))
      .selectExpr("threshold_pct", "n_edges", "n_linked", "n_components",
        "max_component", "n_total - n_linked AS n_isolated")
      .orderBy(col("threshold_pct"))
  }
}
