package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.text.{Dedup, TextStats}

/** Round-6d operators: dedup-graph structure audits, classifier/scorer
  * evaluation metrics, and co-occurrence mining — the measurement layer
  * a curation pipeline needs around its filters (is the near-dup graph
  * clean? does a quality scorer actually separate? how good is the
  * language-ID stage?). Every declared query carries a value-level
  * DuckDB oracle; all derived ratios live in integer micros (the
  * GraphOps discipline) so no FP summation or rounding boundary can
  * diverge between engines.
  */
object MiningOps {
  import Relational.QFn

  private val ws = TextStats.wsClassSql

  /** The exact all-pairs near-dup edge CTE shared by the q122/q123
    * oracles (the q37/q57 replay: exact shingle Jaccard over doc_id <
    * 500, threshold 0.8 — band-miss probability <= 1e-12 per the
    * DedupSpec argument, so banded candidates == exact pairs on the
    * fixture). Carries the raw text for the edit-distance verify.
    */
  /** Normalized customer block projection shared by the q171/q177 ER
    * audits — ONE definition of the blocking key so both audits score
    * the same candidate-pair set (their comparison depends on it).
    */
  private def customerBlocks(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).customer
      .select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
        col("c_custkey").as("k"), col("c_name").as("nm"))

  /** Canonical (ka < kb) within-block candidate pairs over
    * [[customerBlocks]]: one equi-join shuffle on the block key,
    * Σ_b C(n_b, 2) work — the blocked record-linkage generator both ER
    * audits verify against.
    */
  private def blockedNamePairs(cu: DataFrame): DataFrame =
    cu.select(col("nk"), col("seg"), col("k").as("ka"), col("nm").as("na"))
      .join(cu.select(col("nk"), col("seg"), col("k").as("kb"), col("nm").as("nb")),
        Seq("nk", "seg"))
      .filter(col("ka") < col("kb"))

  private def pairsSql(extra: String = ""): String = s"""
      sh AS (
        SELECT doc_id AS id, pt,
               CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                    ELSE list_distinct(list_transform(
                      range(1, greatest(len(toks) - 2, 1) + 1),
                      i -> array_to_string(toks[i:i+2], ' '))) END AS s
        FROM (SELECT doc_id, text AS pt,
                     list_filter(regexp_split_to_array(lower(text), '$ws+'), t -> t <> '') AS toks
              FROM documents WHERE doc_id < 500)),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) AS j
               $extra
        FROM sh a, sh b WHERE a.id < b.id
          AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.8)"""

  /** Edit-distance-verified near-duplicates: MinHash-banded candidates
    * (never all-pairs), exact-Jaccard verified, then a character-level
    * Levenshtein verify on the surviving pairs — the second opinion
    * that catches shingle-level coincidences (shared vocabulary,
    * reordered boilerplate) that token-set Jaccard alone cannot
    * distinguish from true revisions.
    *
    * Scale shape: the candidate set is orders of magnitude smaller
    * than the corpus (the minhashNearDups argument), and only those
    * pairs ever pay the O(len_a*len_b) DP. Both engines compute
    * codepoint-level unit-cost Levenshtein (verified on multibyte
    * fixtures), so the values are portable as exact integers.
    */
  def editVerifiedNearDups(docs: DataFrame,
                           maxRatioMicros: Long = 200000L): DataFrame = {
    val t = docs.select(col("doc_id"), col("text"))
    Dedup.minhashNearDups(docs, 0.8, numHashes = 16, bands = 16)
      .join(t.select(col("doc_id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(t.select(col("doc_id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .withColumn("lev", levenshtein(col("text_a"), col("text_b")).cast("long"))
      .withColumn("edit_ratio_micros",
        expr("(lev * 1000000) DIV greatest(greatest(char_length(text_a), char_length(text_b)), 1)"))
      .filter(col("edit_ratio_micros") <= maxRatioMicros)
      .select(col("id_a"), col("id_b"), col("jaccard"), col("lev"), col("edit_ratio_micros"))
  }

  /** Per-cluster structure audit of the near-dup graph: size, internal
    * edge count, triangle count, edge density and transitivity (both in
    * integer micros). Dense clusters (density ~ 1e6) are true clone
    * families; long sparse chains (density -> 0, transitivity 0) are
    * exactly the transitive-closure false merges the
    * large-star/small-star scaladoc warns about — this is the query a
    * dedup operator runs before trusting cluster-level keep decisions.
    *
    * Scale shape: everything downstream of the corpus-sized
    * minhashNearDups runs on the EDGE LIST (near-dup edges ~ o(corpus)).
    * Triangle enumeration is the two-join wedge closure on (a<b<c)
    * oriented edges — Sigma(deg^2) work, bounded because near-dup degrees
    * are clone-family-sized; for adversarial degree skew the standard
    * escape is orienting by (degree, id) instead of id, which caps
    * wedge fan-out at sqrt(edges) (documented, not needed for dedup
    * graphs). All shuffles carry bare (long, long) ids.
    */
  def clusterDensity(pairs: DataFrame): DataFrame = {
    // Canonicalize defensively (ADVICE r6): the a<b<c two-join closure
    // and the degree/edge counts are only correct on deduplicated,
    // id_a < id_b oriented edges; a caller passing reversed or
    // duplicate pairs would otherwise inflate n_edges/degrees and
    // double- or miss-count triangles. The distinct is one shuffle on
    // the (long, long) edge list — o(corpus) by the near-dup argument.
    val e = pairs.select(
        least(col("id_a").cast("long"), col("id_b").cast("long")).as("id_a"),
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("id_b"))
      .filter(col("id_a") < col("id_b")).distinct()
      .transform(graft.Stage.mat) // feeds labels, degrees, and both triangle joins
    val labels = Dedup.connectedComponents(e)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val edgeC = e.join(labels.select(col("doc_id").as("id_a"), col("cluster_id")), Seq("id_a"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_edges"))
    val deg = e.select(col("id_a").as("id")).unionByName(e.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val wedges = deg.join(labels.select(col("doc_id").as("id"), col("cluster_id")), Seq("id"))
      .groupBy(col("cluster_id"))
      .agg(sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.id_b") === col("e2.id_a"))
      .join(e.as("e3"), col("e3.id_a") === col("e1.id_a") && col("e3.id_b") === col("e2.id_b"))
      .select(col("e1.id_a").as("id_a"))
      .join(labels.select(col("doc_id").as("id_a"), col("cluster_id")), Seq("id_a"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_triangles"))
    labels.select(col("cluster_id"), col("cluster_size").as("n_docs")).distinct()
      .join(edgeC, Seq("cluster_id"))
      .join(wedges, Seq("cluster_id"))
      .join(tri, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_docs"), col("n_edges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        // n_docs >= 2 by construction (clusters come from edges)
        expr("(2000000 * n_edges) DIV (n_docs * (n_docs - 1))").as("density_micros"),
        expr("(3000000 * coalesce(n_triangles, 0)) DIV greatest(n_wedges, 1)")
          .as("transitivity_micros"))
  }

  /** One-vs-rest ROC AUC of an integer score against each language
    * label, by the tie-aware Mann-Whitney rank-sum identity:
    * AUC = (2*R_pos - n_pos*(n_pos+1)) / (2*n_pos*n_neg), where R_pos is
    * the sum of AVERAGE ranks over positives. Everything up to the one
    * final division is exact integer arithmetic: 2*avg_rank of a tie
    * group with min-rank m and size c is the integer 2*(m-1) + c + 1,
    * so two engines cannot disagree on any intermediate.
    *
    * Scale shape: global ranks come from [[graft.text.Packing.scoreOrder]]
    * (range-bucketed two-phase rank — no corpus-wide window); tie-group
    * (min-rank, count) reduces per distinct score map-side; the AUC
    * aggregate is one row per label. The rank->tie-group reduction is
    * sound for ANY tie-break order because row_number ranks within a
    * tie group are consecutive regardless of which doc got which.
    */
  def rankSumAuc(scored: DataFrame, labelCol: String = "lang"): DataFrame = {
    val base = scored.select(col("doc_id"), col(labelCol).as("label"),
      col("score").cast("long").as("score"))
    val ranks = graft.text.Packing.scoreOrder(base, col("score"))
    val grp = ranks.groupBy(col("score"))
      .agg(min(col("rank")).as("mn"), count(lit(1)).as("cnt"))
    val pos = base.groupBy(col("label"), col("score")).agg(count(lit(1)).as("pc"))
    val tot = base.groupBy(col("label")).agg(count(lit(1)).as("n_pos"))
    val nAll = base.agg(count(lit(1)).as("n_all"))
    pos.join(grp, Seq("score"))
      .groupBy(col("label"))
      .agg(sum(col("pc") * (lit(2L) * (col("mn") - 1) + col("cnt") + 1)).as("two_rpos"))
      .join(tot, Seq("label"))
      .crossJoin(broadcast(nAll))
      .select(col("label"), col("n_pos"), (col("n_all") - col("n_pos")).as("n_neg"),
        expr("""((two_rpos - n_pos * (n_pos + 1)) * 1000000)
                 DIV greatest(2 * n_pos * (n_all - n_pos), 1)""").as("auc_micros"))
  }

  /** Per-class precision/recall/F1 (integer micros) plus a trailing
    * macro row for a predicted-vs-actual label pair. Classes with no
    * predictions (the fixture's 'zh' — outside the q34 profile set)
    * score 0 by the tp=0 numerator, not a 0/0: every division is
    * `DIV greatest(denom, 1)`. The macro row carries summed counts and
    * macro-averaged (unweighted class-mean) metric micros.
    */
  def classificationReport(preds: DataFrame): DataFrame = {
    val p = preds.select(col("act"), col("pred"))
    val classes = p.select(col("act").as("lang"))
      .unionByName(p.select(col("pred").as("lang"))).distinct()
    val actC = p.groupBy(col("act").as("lang")).agg(count(lit(1)).as("n_act"))
    val predC = p.groupBy(col("pred").as("lang")).agg(count(lit(1)).as("n_pred"))
    val tpC = p.filter(col("act") === col("pred"))
      .groupBy(col("act").as("lang")).agg(count(lit(1)).as("tp"))
    val per = classes
      .join(actC, Seq("lang"), "left")
      .join(predC, Seq("lang"), "left")
      .join(tpC, Seq("lang"), "left")
      .select(col("lang"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L))).as("fp"),
        (coalesce(col("n_act"), lit(0L)) - coalesce(col("tp"), lit(0L))).as("fn"))
      .withColumn("precision_micros", expr("(1000000 * tp) DIV greatest(tp + fp, 1)"))
      .withColumn("recall_micros", expr("(1000000 * tp) DIV greatest(tp + fn, 1)"))
      .withColumn("f1_micros",
        expr("(2 * precision_micros * recall_micros) DIV greatest(precision_micros + recall_micros, 1)"))
    val macroRow = per.agg(
      sum(col("tp")).as("tp"), sum(col("fp")).as("fp"), sum(col("fn")).as("fn"),
      expr("sum(precision_micros) DIV count(*)").as("precision_micros"),
      expr("sum(recall_micros) DIV count(*)").as("recall_micros"),
      expr("sum(f1_micros) DIV count(*)").as("f1_micros"))
      .select(lit("zz_macro").as("lang"), col("tp"), col("fp"), col("fn"),
        col("precision_micros"), col("recall_micros"), col("f1_micros"))
    per.unionByName(macroRow)
  }

  /** Within-order part co-occurrence with support and lift (market-
    * basket association mining over the order/lineitem fact). Lift in
    * integer micros: (c_ab * n_orders * 1e6) DIV (c_a * c_b).
    *
    * Scale shape: pair generation is a self-join CO-PARTITIONED on the
    * basket key (one shuffle each side, no broadcast of the fact), so
    * work is Sigma_orders C(k,2) — linear in the fact for bounded basket
    * sizes; pair counts and item counts are map-side-combined
    * aggregates; the item-count re-attachment joins on the
    * part-cardinality dimension (broadcast-able). Top-k is
    * TakeOrderedAndProject, never a global sort.
    */
  def basketLift(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
      .transform(graft.Stage.mat) // feeds the pair join (twice) and both count aggs
    val nOrders = li.select(col("l_orderkey")).distinct().agg(count(lit(1)).as("n_orders"))
    val itemC = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
    val pairs = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("pb")), Seq("l_orderkey"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 3L)
    pairs
      .join(itemC.select(col("l_partkey").as("pa"), col("c").as("c_a")), Seq("pa"))
      .join(itemC.select(col("l_partkey").as("pb"), col("c").as("c_b")), Seq("pb"))
      .crossJoin(broadcast(nOrders))
      // The numerator c_ab * n_orders * 1e6 overflows Long once
      // c_ab * n_orders exceeds ~9.2e12 (a frequent pair at corpus
      // scale), so the product runs in DECIMAL(38,0); DIV (integral
      // divide) returns the same BIGINT micros as the all-Long form
      // wherever that form doesn't overflow, which keeps the DuckDB
      // oracle (128-bit integer math) bit-identical at every scale.
      .select(col("pa"), col("pb"), col("c_ab"), col("c_a"), col("c_b"),
        expr("""(CAST(c_ab AS DECIMAL(38,0)) * n_orders * 1000000)
                 DIV (CAST(c_a AS DECIMAL(38,0)) * c_b)""").as("lift_micros"))
      .orderBy(col("lift_micros").desc, col("pa"), col("pb"))
      .limit(20)
  }

  /** Frequent item TRIPLES with exact support: the 3-way extension of
    * [[basketLift]]'s pair mining (the Apriori k=3 level, materialized
    * directly — at bounded basket size the candidate-generation pass
    * is unnecessary). Baskets are DISTINCT (order, item) pairs;
    * triples are canonically ordered pa < pb < pc so each combination
    * counts once.
    *
    * Scale shape: both self-joins co-partition on the basket key
    * `l_orderkey` — one shuffle per side, never a fact broadcast —
    * and the per-order work is C(k,3) for basket size k (bounded
    * baskets: TPC-H ≤ 7 ⇒ ≤ 35 rows/order; cap or pre-filter hot
    * baskets on corpora without that bound). Support counts are
    * map-side-combined; the top-k is TakeOrderedAndProject, never a
    * global sort.
    */
  def basketTriples(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
      .transform(graft.Stage.mat) // feeds all three join legs
    li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("pb")), Seq("l_orderkey"))
      .filter(col("pa") < col("pb"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("pc")), Seq("l_orderkey"))
      .filter(col("pb") < col("pc"))
      .groupBy(col("pa"), col("pb"), col("pc")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2L)
      .orderBy(col("support").desc, col("pa"), col("pb"), col("pc"))
      .limit(20)
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998)
    * over a near-dup pair graph: lcc(v) = 2·tri(v) div (deg(v)·
    * (deg(v)−1)) in ppm, deg < 2 ⇒ 0 — the node-level companion of
    * [[clusterDensity]]'s cluster transitivity (a node with high
    * degree but near-zero lcc is a HUB STITCHING unrelated documents
    * — the classic false-merge symptom a dedup audit looks for; a
    * dense clique scores 1e6 everywhere). The zz row (doc_id = −1)
    * carries the Watts–Strogatz average: Σ lcc div #(deg ≥ 2 nodes).
    *
    * Same defensive canonicalization and a<b<c oriented two-join
    * closure as [[clusterDensity]]; per-node triangle counts come
    * from exploding each closed triangle to its three corners —
    * 3·#triangles rows, never a wedge blowup beyond the closure join
    * itself (degree-orientation escape documented there applies
    * unchanged).
    */
  def localClustering(pairs: DataFrame): DataFrame = {
    val e = pairs.select(
        least(col("id_a").cast("long"), col("id_b").cast("long")).as("id_a"),
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("id_b"))
      .filter(col("id_a") < col("id_b")).distinct()
      .transform(graft.Stage.mat)
    val deg = e.select(col("id_a").as("id")).unionByName(e.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.id_b") === col("e2.id_a"))
      .join(e.as("e3"), col("e3.id_a") === col("e1.id_a") && col("e3.id_b") === col("e2.id_b"))
      .select(col("e1.id_a").as("a"), col("e1.id_b").as("b"), col("e2.id_b").as("c"))
    val tn = tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    val per = deg.join(tn, Seq("id"), "left")
      .selectExpr("id AS doc_id", "deg",
        "coalesce(n_tri, CAST(0 AS BIGINT)) AS n_tri",
        """CASE WHEN deg >= 2
             THEN (2000000 * coalesce(n_tri, CAST(0 AS BIGINT))) DIV (deg * (deg - 1))
             ELSE CAST(0 AS BIGINT) END AS lcc_ppm""")
      .transform(graft.Stage.mat)
    val zz = per.filter(col("deg") >= 2)
      .agg(count(lit(1)).as("n2"), sum(col("n_tri")).as("st"),
        sum(col("lcc_ppm")).as("sl"))
      .selectExpr("CAST(-1 AS BIGINT) AS doc_id", "n2 AS deg", "st AS n_tri",
        "sl DIV greatest(n2, 1) AS lcc_ppm")
    per.unionByName(zz).orderBy(col("doc_id"))
  }

  /** Sorted-Neighborhood candidate generation (Hernández & Stolfo
    * 1995): sort the corpus by a fuzzy blocking key and pair each
    * record only with its `w−1` successors in that order — the
    * complement of q171's equality blocking for the near-miss regime
    * where key EQUALITY fails (typo in the first token) but key
    * PROXIMITY holds. Candidates then pass a bounded edit-distance
    * verify, so the emitted pairs are certified near-duplicates.
    *
    * Portable sort discipline: the key's first 7 characters encode to
    * one BIGINT (base-256 big-endian of the 255-clamped codepoints, a
    * strictly order-preserving map for ASCII — 255·Σ256^i < 2^56), so
    * BOTH engines sort by (score, doc_id) integers and no cross-engine
    * collation semantics are ever consulted. The global rank rides
    * [[graft.text.Packing.scoreOrder]]'s two-phase bucket
    * decomposition (no corpus-wide window); the oracle ranks with a
    * plain `row_number() OVER (ORDER BY score, doc_id)`, so hash
    * equality again doubles as the decomposition-exactness proof.
    *
    * Scale shape: rank via scoreOrder (one bucket shuffle + one
    * 1024-row serial window), neighbor pairs via an offsets-explode
    * EQUI-join on rank+off (w−1 map-side replicas, never a range or
    * theta join), then the O(k·n) banded levenshtein on the 64-char
    * key prefixes only. Work is (w−1)·N pairs — linear in the corpus
    * for fixed window, the property that separates SN from all-pairs.
    */
  def sortedNeighborhoodPairs(docs: DataFrame): DataFrame = {
    // Column-API regex, NOT selectExpr: a SQL string literal would eat
    // the class's backslashes (Spark's literal parser turns \f into a
    // plain 'f'), silently corrupting the key. Java \s here == the
    // spelled-out wsClassSql class in the oracle (TextStats scaladoc).
    val t = docs.select(col("doc_id"),
      regexp_replace(lower(col("text")), "\\s+", " ").as("k"))
      .selectExpr("doc_id", "substring(k, 1, 64) AS vkey",
        "rpad(k, 7, ' ') AS k7")
    val scored = t.withColumn("score",
      (1 to 7).map(i =>
        expr(s"CAST(least(ascii(substring(k7, $i, 1)), 255) AS BIGINT)")
          * lit(math.pow(256, 7 - i).toLong)).reduce(_ + _))
      .transform(graft.Stage.mat) // feeds the rank pass AND the verify join
    val ranks = graft.text.Packing.scoreOrder(scored, col("score"))
      .select(col("doc_id"), col("rank"))
    val offs = docs.sparkSession.range(1, 4).select(col("id").as("off"))
    val cand = ranks.crossJoin(broadcast(offs))
      .withColumn("rank_b", col("rank") + col("off"))
      .select(col("doc_id").as("id_a"), col("rank_b"), col("off"))
      .join(ranks.select(col("doc_id").as("id_b"), col("rank").as("rank_b")),
        Seq("rank_b"))
    cand
      .join(scored.select(col("doc_id").as("id_a"), col("vkey").as("va")), Seq("id_a"))
      .join(scored.select(col("doc_id").as("id_b"), col("vkey").as("vb")), Seq("id_b"))
      .withColumn("lev", levenshtein(col("va"), col("vb"), 8).cast("long"))
      .filter(col("lev").between(0, 8))
      .select(col("id_a"), col("id_b"), col("off"), col("lev"))
  }

  val defs: Seq[(String, QFn, Option[String])] = Seq(

    // ---- adversarial validation, A/A-calibrated: can a feature
    //      separate two hash splits of the corpus? The q124 tie-aware
    //      rank-sum AUC run per feature (n_chars, whitespace tokens)
    //      with the SPLIT as the label — on a genuine A/A split both
    //      AUCs must sit at ~0.5, and that reading is the test: when
    //      train and eval come from different pipelines, this query
    //      going >0.55 is the standard "your splits are distinguishable,
    //      expect offline metrics to lie" alarm (the distribution-shift
    //      screen run before q244's purged CV is trusted). Two bucketed
    //      rank-sum passes, no window over the corpus (scoreOrder
    //      two-phase), everything exact integers.
    ("q289_adversarial_validation", (s: SparkSession, dir: String) => {
      val d = graft.Stage.mat(Tables(s, dir).documents.select(col("doc_id"),
        when(graft.text.TextStats.portableHash64(
          concat(lit("av:"), col("doc_id").cast("string"))) % 2L === 0L,
          "splitA").otherwise("splitB").as("split"),
        col("n_chars"),
        graft.text.TextStats.tokenCount(col("text")).cast("long").as("ntok")))
      def auc(feature: String) = rankSumAuc(
        d.select(col("doc_id"), col("split"), col(feature).as("score")),
        labelCol = "split")
        .selectExpr(s"'$feature' AS feature", "label AS split", "n_pos",
          "n_neg", "auc_micros")
      auc("n_chars").unionByName(auc("ntok"))
        .orderBy(col("feature"), col("split"))
    }, Some {
      val h = graft.text.TextStats.portableHash64Sql(
        "concat('av:', CAST(doc_id AS VARCHAR))")
      def block(feature: String, scoreExpr: String, sfx: String) = s"""
      sc$sfx AS (SELECT doc_id,
                   CASE WHEN $h % 2 = 0 THEN 'splitA' ELSE 'splitB' END AS split,
                   $scoreExpr AS score
                 FROM documents),
      grp$sfx AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt
                  FROM sc$sfx GROUP BY score),
      rk$sfx AS (SELECT score, cnt,
                   COALESCE(SUM(cnt) OVER (ORDER BY score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                 FROM grp$sfx),
      pos$sfx AS (SELECT split, score, CAST(count(*) AS BIGINT) AS pc
                  FROM sc$sfx GROUP BY split, score),
      tot$sfx AS (SELECT split, CAST(count(*) AS BIGINT) AS n_pos
                  FROM sc$sfx GROUP BY split),
      nn$sfx AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM sc$sfx),
      r$sfx AS (SELECT p.split, SUM(p.pc * (2 * k.cum + k.cnt + 1)) AS two_rpos
                FROM pos$sfx p JOIN rk$sfx k USING (score) GROUP BY p.split),
      out$sfx AS (
        SELECT '$feature' AS feature, t.split, t.n_pos,
               n_all - t.n_pos AS n_neg,
               CAST(((r.two_rpos - t.n_pos * (t.n_pos + 1)) * 1000000)
                    // greatest(2 * t.n_pos * (n_all - t.n_pos), 1) AS BIGINT)
                 AS auc_micros
        FROM r$sfx r JOIN tot$sfx t USING (split) CROSS JOIN nn$sfx)"""
      s"""
      WITH ${block("n_chars", "n_chars", "1")},
      ${block("ntok",
        s"CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT)", "2")}
      SELECT * FROM out1 UNION ALL SELECT * FROM out2
      ORDER BY feature, split"""
    }),

    // ---- 2-D skyline (Pareto front; Börzsönyi et al. 2001's SKYLINE OF
    //      operator): the parts no other part dominates under (price ↓,
    //      size ↑) — dominated iff some part is no-worse on both axes
    //      and strictly better on one. The sort-filter identity for two
    //      dimensions: with msize(p) = max size at price p and
    //      strictmax(p) = max size over strictly cheaper prices, a part
    //      survives iff size = msize(price) AND size > strictmax(price)
    //      (equal-price equal-size duplicates are mutually non-dominating
    //      and all survive). The strict-prefix max runs the engine's
    //      two-phase range decomposition — per-bucket maxima, one window
    //      over the ≤1024-row bucket table, within-bucket prefix max
    //      PARTITIONed BY bucket — never a global sort over the distinct-
    //      price table (which for a continuous price domain is
    //      corpus-sized). The oracle replays the identity with a plain
    //      global ROWS-frame window, so hash equality doubles as the
    //      decomposition-exactness proof (the scoreOrder convention).
    ("q268_skyline", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val p = Tables(s, dir).part.selectExpr("p_partkey",
        "CAST(floor(p_retailprice * 1000000) AS BIGINT) AS price",
        "CAST(p_size AS BIGINT) AS sz")
      val mx = graft.Stage.mat(
        p.groupBy(col("price")).agg(max(col("sz")).as("msize")))
      val st = mx.agg(min(col("price")).as("mn"), max(col("price")).as("mx"))
      val bucketed = mx.crossJoin(broadcast(st))
        .withColumn("b", when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(1023L),
            floor((col("price") - col("mn")).cast("double") * 1024 /
              (col("mx") - col("mn") + 1).cast("double")).cast("long"))))
        .select(col("price"), col("msize"), col("b"))
      val boff = bucketed.groupBy(col("b")).agg(max(col("msize")).as("bmax"))
        .withColumn("pre", coalesce(
          max(col("bmax")).over(Window.orderBy(col("b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(-1L)))
        .select(col("b"), col("pre"))
      val wIn = Window.partitionBy(col("b")).orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val pm = bucketed.join(broadcast(boff), Seq("b"))
        .withColumn("strictmax",
          greatest(coalesce(max(col("msize")).over(wIn), lit(-1L)), col("pre")))
        .select(col("price"), col("msize"), col("strictmax"))
      p.join(pm, Seq("price"))
        .filter(col("sz") === col("msize") && col("sz") > col("strictmax"))
        .selectExpr("p_partkey", "price AS price_micros", "sz AS p_size")
        .orderBy(col("price_micros"), col("p_partkey"))
    }, Some("""
      WITH p AS (
        SELECT p_partkey, CAST(floor(p_retailprice * 1000000) AS BIGINT) AS price,
               CAST(p_size AS BIGINT) AS sz
        FROM part),
      mx AS (SELECT price, MAX(sz) AS msize FROM p GROUP BY price),
      pm AS (
        SELECT price, msize,
               coalesce(MAX(msize) OVER (ORDER BY price
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                 AS strictmax
        FROM mx)
      SELECT p.p_partkey, p.price AS price_micros, p.sz AS p_size
      FROM p JOIN pm ON p.price = pm.price
      WHERE p.sz = pm.msize AND p.sz > pm.strictmax
      ORDER BY price_micros, p_partkey""")),

    // ---- sorted-neighborhood ER: window-4 neighbors in normalized-
    //      prefix order, verified at banded lev <= 8 over the 64-char
    //      keys. The oracle replays the integer sort encoding, a plain
    //      global row_number (proving the two-phase rank exact), the
    //      offset equi-join, and every edit distance.
    ("q245_sorted_neighborhood", (s: SparkSession, dir: String) => {
      sortedNeighborhoodPairs(Tables(s, dir).documents)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH t AS (
        SELECT doc_id, regexp_replace(lower(text), '$ws+', ' ', 'g') AS k
        FROM documents),
      sn AS (SELECT doc_id, substr(k, 1, 64) AS vkey, rpad(k, 7, ' ') AS k7
             FROM t),
      sc AS (SELECT doc_id, vkey,
                    least(ascii(substr(k7, 1, 1)), 255) * 281474976710656
                  + least(ascii(substr(k7, 2, 1)), 255) * 1099511627776
                  + least(ascii(substr(k7, 3, 1)), 255) * 4294967296
                  + least(ascii(substr(k7, 4, 1)), 255) * 16777216
                  + least(ascii(substr(k7, 5, 1)), 255) * 65536
                  + least(ascii(substr(k7, 6, 1)), 255) * 256
                  + least(ascii(substr(k7, 7, 1)), 255) AS score
             FROM sn),
      r AS (SELECT doc_id, vkey,
                   CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS rnk
            FROM sc),
      o AS (SELECT unnest(range(1, 4)) AS off),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      CAST(o.off AS BIGINT) AS off, a.vkey AS va, b.vkey AS vb
               FROM r a CROSS JOIN o JOIN r b ON b.rnk = a.rnk + o.off)
      SELECT id_a, id_b, off, CAST(levenshtein(va, vb) AS BIGINT) AS lev
      FROM cand WHERE levenshtein(va, vb) <= 8
      ORDER BY id_a, id_b""")),

    // ---- edit-distance-verified near-dup pairs: banded MinHash
    //      candidates -> exact Jaccard >= 0.8 -> Levenshtein <= 20% of
    //      the longer text. The oracle recomputes BOTH verifies exactly
    //      over all pairs (band-miss <= 1e-12, the q37 argument); the
    //      Levenshtein integers must match to the character, which
    //      value-verifies the edit-distance computation itself, not
    //      just the survivor set.
    ("q122_edit_neardup", (s: SparkSession, dir: String) => {
      editVerifiedNearDups(Tables(s, dir).documents.filter(col("doc_id") < 500),
          maxRatioMicros = 200000L)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("jaccard_r"),
          col("lev"), col("edit_ratio_micros"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH ${pairsSql(", levenshtein(a.pt, b.pt) AS lev, greatest(greatest(len(a.pt), len(b.pt)), 1) AS mx")}
      SELECT id_a, id_b, round(j, 9) AS jaccard_r, CAST(lev AS BIGINT) AS lev,
             CAST((lev * 1000000) // mx AS BIGINT) AS edit_ratio_micros
      FROM pairs WHERE (lev * 1000000) // mx <= 200000
      ORDER BY id_a, id_b""")),

    // ---- near-dup cluster structure audit: per-cluster size, edges,
    //      triangles, density + transitivity micros. The oracle replays
    //      the exact pairs, the recursive-CTE closure (q57), the
    //      oriented two-join triangle closure, and the integer ratios.
    ("q123_cluster_density", (s: SparkSession, dir: String) => {
      clusterDensity(Dedup.minhashNearDups(
          Tables(s, dir).documents.filter(col("doc_id") < 500),
          threshold = 0.8, numHashes = 16, bands = 16))
        .orderBy(col("cluster_id"))
    }, Some(s"""
      WITH RECURSIVE ${pairsSql()},
      ${Dedup.pairReachSql},
      labels AS (SELECT n AS id, MIN(r) AS cluster_id FROM reach GROUP BY n),
      sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
                FROM labels GROUP BY cluster_id),
      ec AS (SELECT l.cluster_id, CAST(count(*) AS BIGINT) AS n_edges
             FROM pairs p JOIN labels l ON p.id_a = l.id GROUP BY l.cluster_id),
      deg AS (SELECT id, count(*) AS d FROM
                (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
              GROUP BY id),
      wg AS (SELECT l.cluster_id, SUM(d * (d - 1) // 2) AS n_wedges
             FROM deg JOIN labels l USING (id) GROUP BY l.cluster_id),
      tri AS (SELECT l.cluster_id, CAST(count(*) AS BIGINT) AS n_triangles
              FROM pairs e1
                JOIN pairs e2 ON e1.id_b = e2.id_a
                JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
                JOIN labels l ON e1.id_a = l.id
              GROUP BY l.cluster_id)
      SELECT s.cluster_id, s.n_docs, ec.n_edges,
             COALESCE(tri.n_triangles, 0) AS n_triangles,
             CAST((2000000 * ec.n_edges) // (s.n_docs * (s.n_docs - 1)) AS BIGINT)
               AS density_micros,
             CAST((3000000 * COALESCE(tri.n_triangles, 0)) // greatest(wg.n_wedges, 1) AS BIGINT)
               AS transitivity_micros
      FROM sizes s JOIN ec USING (cluster_id) JOIN wg USING (cluster_id)
        LEFT JOIN tri USING (cluster_id)
      ORDER BY s.cluster_id""")),

    // ---- one-vs-rest AUC of character entropy as a language signal:
    //      does raw char-level entropy separate each language from the
    //      rest? (zh ~ 1.0: ideographic scripts have far higher
    //      per-char entropy; latin languages cluster near 0.5.) The
    //      score is the q87 integer entropy-nanos, the ranks are exact
    //      integers, and the single division lands in micros — the
    //      oracle replays every step bit-for-bit.
    ("q124_entropy_auc", (s: SparkSession, dir: String) => {
      val scored = Tables(s, dir).documents.select(col("doc_id"), col("lang"),
        (-graft.catalyst.GraftFunctions.charEntropyNanos(col("text"))).as("score"))
      rankSumAuc(scored, labelCol = "lang")
        .withColumnRenamed("label", "lang")
        .orderBy(col("lang"))
    }, Some("""
      WITH c AS (SELECT doc_id, lang,
                   list_filter(regexp_split_to_array(text, ''), x -> x <> '') AS cs
                 FROM documents),
      d AS (SELECT doc_id, lang, cs, list_distinct(cs) AS dc FROM c),
      sc AS (SELECT doc_id, lang,
               -COALESCE(list_sum(list_transform(dc, ch ->
                   CAST(round(round((CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)
                                    / len(cs))
                                   * ln(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)
                                        / len(cs)), 9) * 1000000000.0, 0) AS BIGINT))), 0)
                 AS score
             FROM d),
      grp AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt FROM sc GROUP BY score),
      rk AS (SELECT score, cnt,
               COALESCE(SUM(cnt) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
             FROM grp),
      pos AS (SELECT lang, score, CAST(count(*) AS BIGINT) AS pc FROM sc GROUP BY lang, score),
      tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_pos FROM sc GROUP BY lang),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM sc),
      r AS (SELECT p.lang, SUM(p.pc * (2 * rk.cum + rk.cnt + 1)) AS two_rpos
            FROM pos p JOIN rk USING (score) GROUP BY p.lang)
      SELECT t.lang, t.n_pos, n_all - t.n_pos AS n_neg,
             CAST(((r.two_rpos - t.n_pos * (t.n_pos + 1)) * 1000000)
                  // greatest(2 * t.n_pos * (n_all - t.n_pos), 1) AS BIGINT) AS auc_micros
      FROM r JOIN tot t USING (lang) CROSS JOIN nn ORDER BY t.lang""")),

    // ---- market-basket lift over order/lineitem: top-20 part pairs by
    //      lift (min co-occurrence 3). All counts and the lift micros
    //      are exact integers; ties order on (pa, pb).
    ("q125_basket_lift", (s: SparkSession, dir: String) => {
      basketLift(Tables(s, dir).lineitem)
    }, Some("""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
      ic AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY l_partkey),
      pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS c_ab
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2 HAVING count(*) >= 3)
      SELECT pr.pa, pr.pb, pr.c_ab, ia.c AS c_a, ib.c AS c_b,
             CAST((pr.c_ab * n.n_orders * 1000000) // (ia.c * ib.c) AS BIGINT) AS lift_micros
      FROM pr JOIN ic ia ON pr.pa = ia.l_partkey
              JOIN ic ib ON pr.pb = ib.l_partkey
              CROSS JOIN n
      ORDER BY lift_micros DESC, pa, pb LIMIT 20""")),

    // ---- language-ID classification report: per-class P/R/F1 micros
    //      vs the actual lang label, plus the zz_macro row (summed
    //      counts, unweighted class-mean metrics). 'zh' is outside the
    //      q34 profile set, so its row pins the tp=0 guard semantics.
    ("q126_macro_f1", (s: SparkSession, dir: String) => {
      val p = Tables(s, dir).documents.select(col("lang").as("act"),
        TextStats.langIdPredicted(col("text")).as("pred"))
      classificationReport(p).orderBy(col("lang"))
    }, Some(s"""
      WITH scored AS (
        SELECT doc_id, lang AS act,
               ${TextStats.langScoresSql}
        FROM documents),
      p AS (SELECT act,
              ${TextStats.langPredSql} AS pred
            FROM scored),
      classes AS (SELECT act AS lang FROM p UNION SELECT pred FROM p),
      ac AS (SELECT act AS lang, CAST(count(*) AS BIGINT) AS n_act FROM p GROUP BY act),
      pc AS (SELECT pred AS lang, CAST(count(*) AS BIGINT) AS n_pred FROM p GROUP BY pred),
      tc AS (SELECT act AS lang, CAST(count(*) AS BIGINT) AS tp FROM p WHERE act = pred GROUP BY act),
      per AS (
        SELECT c.lang,
               COALESCE(tc.tp, 0) AS tp,
               COALESCE(pc.n_pred, 0) - COALESCE(tc.tp, 0) AS fp,
               COALESCE(ac.n_act, 0) - COALESCE(tc.tp, 0) AS fn
        FROM classes c LEFT JOIN ac USING (lang) LEFT JOIN pc USING (lang)
          LEFT JOIN tc USING (lang)),
      m AS (
        SELECT lang, tp, fp, fn,
               (1000000 * tp) // greatest(tp + fp, 1) AS precision_micros,
               (1000000 * tp) // greatest(tp + fn, 1) AS recall_micros
        FROM per),
      m2 AS (
        SELECT lang, tp, fp, fn, precision_micros, recall_micros,
               (2 * precision_micros * recall_micros)
                 // greatest(precision_micros + recall_micros, 1) AS f1_micros
        FROM m)
      SELECT * FROM (
        SELECT lang, tp, fp, fn, CAST(precision_micros AS BIGINT) AS precision_micros,
               CAST(recall_micros AS BIGINT) AS recall_micros,
               CAST(f1_micros AS BIGINT) AS f1_micros
        FROM m2
        UNION ALL
        SELECT 'zz_macro', CAST(SUM(tp) AS BIGINT), CAST(SUM(fp) AS BIGINT),
               CAST(SUM(fn) AS BIGINT),
               CAST(SUM(precision_micros) // count(*) AS BIGINT),
               CAST(SUM(recall_micros) // count(*) AS BIGINT),
               CAST(SUM(f1_micros) // count(*) AS BIGINT)
        FROM m2)
      ORDER BY lang""")),

    // ---- frequent part triples: top-20 canonically-ordered 3-item
    //      combinations by exact basket support (>= 2). The oracle
    //      replays the distinct-basket projection, both canonical
    //      joins, and the (support desc, pa, pb, pc) tie order.
    ("q151_basket_triples", (s: SparkSession, dir: String) => {
      basketTriples(Tables(s, dir).lineitem)
    }, Some("""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      tri AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc,
               CAST(count(*) AS BIGINT) AS support
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        JOIN li c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
        GROUP BY 1, 2, 3 HAVING count(*) >= 2)
      SELECT pa, pb, pc, support FROM tri
      ORDER BY support DESC, pa, pb, pc LIMIT 20""")),

    // ---- entity-resolution blocking audit: candidate pairs are
    //      generated ONLY within a (nation, segment) block — the
    //      classic blocked record-linkage shape (Fellegi-Sunter
    //      pipelines, Papadakis et al. survey) — then verified with a
    //      BOUNDED edit distance (levenshtein(a, b, k) is O(k·n) per
    //      pair, not O(n²), and returns the exact distance whenever it
    //      is ≤ k, so bounded ≡ unbounded on every pair that can
    //      match). The result is the per-block audit an ER pipeline
    //      reads before trusting its blocking key: members, candidate
    //      pairs (the quadratic cost actually paid), matches, and the
    //      match rate in ppm — blocks with huge pair counts and tiny
    //      match rates are where the key needs refining.
    //
    //      Scale shape: one equi-join shuffle on the block key; work is
    //      Σ_b C(n_b, 2), governed entirely by block sizes — the 100 TB
    //      discipline is a block-size cap (split oversized blocks on a
    //      secondary key, or route them to the q91 prefix-filtered
    //      similarity join) exactly as the Papadakis blocking survey
    //      prescribes. Output is block-cardinality rows, never pairs.
    ("q171_er_blocking", (s: SparkSession, dir: String) => {
      val cu = customerBlocks(s, dir)
      val members = cu.groupBy(col("nk"), col("seg"))
        .agg(count(lit(1)).as("n_members"))
      val pairs = blockedNamePairs(cu)
        .groupBy(col("nk"), col("seg"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(levenshtein(col("na"), col("nb"), 2).between(0, 2), 1L)
            .otherwise(0L)).as("n_matches"))
      members.join(pairs, Seq("nk", "seg"), "left")
        .selectExpr("CAST(nk AS BIGINT) AS nk", "seg", "n_members",
          "coalesce(n_pairs, 0L) AS n_pairs",
          "coalesce(n_matches, 0L) AS n_matches",
          "CASE WHEN coalesce(n_pairs, 0L) = 0 THEN 0L ELSE (n_matches * 1000000) DIV n_pairs END AS match_rate_ppm")
        .orderBy(col("nk"), col("seg"))
    }, Some("""
      WITH cu AS (
        SELECT c_nationkey AS nk, c_mktsegment AS seg, c_custkey AS k, c_name AS nm
        FROM customer),
      members AS (
        SELECT nk, seg, CAST(count(*) AS BIGINT) AS n_members
        FROM cu GROUP BY nk, seg),
      pairs AS (
        SELECT a.nk, a.seg, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN levenshtein(a.nm, b.nm) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
        FROM cu a JOIN cu b
          ON a.nk = b.nk AND a.seg = b.seg AND a.k < b.k
        GROUP BY a.nk, a.seg)
      SELECT CAST(m.nk AS BIGINT) AS nk, m.seg AS seg, m.n_members,
             COALESCE(p.n_pairs, 0) AS n_pairs,
             COALESCE(p.n_matches, 0) AS n_matches,
             CASE WHEN COALESCE(p.n_pairs, 0) = 0 THEN 0
                  ELSE (p.n_matches * 1000000) // p.n_pairs END AS match_rate_ppm
      FROM members m LEFT JOIN pairs p ON m.nk = p.nk AND m.seg = p.seg
      ORDER BY nk, seg""")),

    // ---- transposition-aware ER verify: the q171 blocked pair join
    //      re-scored with the native full Damerau-Levenshtein
    //      expression (`catalyst/DamerauLevenshtein.scala` — Spark
    //      ships only plain levenshtein, and "recieve"/"receive" or a
    //      digit swap in an identifier is ONE typo under DL, two under
    //      Levenshtein). Per block: pairs at dl ≤ 1 vs lev ≤ 1, and
    //      the transposition gain — the matches a lev-threshold-1
    //      matcher silently loses. Both engines run the same full-DL
    //      lattice (DuckDB's is byte-level; the name fixture is ASCII,
    //      where byte ≡ codepoint — divergence documented in the
    //      expression scaladoc). Same Σ C(n_b,2) block-bounded cost
    //      and escapes as q171.
    ("q177_er_damerau", (s: SparkSession, dir: String) => {
      // dl ≤ 1 ⟹ lev ≤ 2 (one transposition costs at most two lev
      // edits), so the banded levenshtein(·,·,2) — O(2n)/pair,
      // codegen'd builtin — is a LOSSLESS pre-filter: the O(n²) DL
      // lattice runs only on the ~3% of pairs that survive it
      // (codegen And short-circuits). 5.2 s → sub-second at sf0.1
      // with identical counts.
      blockedNamePairs(customerBlocks(s, dir))
        .withColumn("lev2", levenshtein(col("na"), col("nb"), 2))
        .groupBy(col("nk"), col("seg"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("lev2").between(0, 2) &&
            graft.catalyst.GraftFunctions
              .damerauLevenshtein(col("na"), col("nb")) <= 1, 1L)
            .otherwise(0L)).as("n_dl1"),
          sum(when(col("lev2").between(0, 1), 1L)
            .otherwise(0L)).as("n_lev1"))
        .selectExpr("CAST(nk AS BIGINT) AS nk", "seg", "n_pairs", "n_dl1",
          "n_lev1", "n_dl1 - n_lev1 AS transpose_gain")
        .orderBy(col("nk"), col("seg"))
    }, Some("""
      WITH cu AS (
        SELECT c_nationkey AS nk, c_mktsegment AS seg, c_custkey AS k, c_name AS nm
        FROM customer)
      SELECT CAST(a.nk AS BIGINT) AS nk, a.seg AS seg,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN damerau_levenshtein(a.nm, b.nm) <= 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_dl1,
             CAST(SUM(CASE WHEN levenshtein(a.nm, b.nm) <= 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_lev1,
             CAST(SUM(CASE WHEN damerau_levenshtein(a.nm, b.nm) <= 1
                           THEN 1 ELSE 0 END)
                  - SUM(CASE WHEN levenshtein(a.nm, b.nm) <= 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS transpose_gain
      FROM cu a JOIN cu b
        ON a.nk = b.nk AND a.seg = b.seg AND a.k < b.k
      GROUP BY a.nk, a.seg
      ORDER BY nk, seg""")),

    // ---- Jaro-Winkler ER scoring: the q171/q177 blocked-pair
    //      discipline applied to part names with the native
    //      `JaroWinklerMicros` expression — the prefix-weighted
    //      similarity record linkage actually ranks candidates by
    //      (edit distance treats "red widget"/"red widgets" and
    //      "red widget"/"tan widget" as equally 1-off; JW does not).
    //      EXACT integer micros: round-half-up of the exact rational
    //      — no double ever enters the Spark side, and the expression
    //      scaladoc's denominator-bound argument is why the oracle's
    //      float floor(x*1e6+0.5) agrees bit-for-bit (verified on
    //      120k random pairs + both scales). Per (brand, size) block:
    //      pair count, exact-name matches, near matches at jw >= 0.9,
    //      the exact sum of all pair scores, and the best sub-identical
    //      score — the block-quality profile an ER pipeline reads to
    //      pick its match threshold.
    //
    //      Scale shape: Σ_b C(n_b, 2) work after one equi-join shuffle
    //      on the block key (160k pairs at sf0.1, never all-pairs);
    //      the JW kernel is O(|a|·|b|) per pair on short name strings,
    //      inside whole-stage codegen.
    ("q205_er_jaro_winkler", (s: SparkSession, dir: String) => {
      val p = Tables(s, dir).part
        .select(col("p_brand").as("brand"), col("p_size").as("sz"),
          col("p_partkey").as("k"), col("p_name").as("nm"))
      p.select(col("brand"), col("sz"), col("k").as("ka"), col("nm").as("na"))
        .join(p.select(col("brand"), col("sz"), col("k").as("kb"), col("nm").as("nb")),
          Seq("brand", "sz"))
        .filter(col("ka") < col("kb"))
        .withColumn("jw",
          graft.catalyst.GraftFunctions.jaroWinklerMicros(col("na"), col("nb")))
        .groupBy(col("brand"), col("sz"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("jw") === 1000000L, 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("jw") >= 900000L && col("jw") < 1000000L, 1L)
            .otherwise(0L)).as("n_close"),
          sum(col("jw")).as("sum_jw"),
          max(when(col("jw") < 1000000L, col("jw")).otherwise(0L)).as("best_sub"))
        .selectExpr("brand", "CAST(sz AS BIGINT) AS sz", "n_pairs", "n_exact",
          "n_close", "sum_jw", "best_sub")
        .orderBy(col("brand"), col("sz"))
    }, Some("""
      WITH p AS (
        SELECT p_brand AS brand, p_size AS sz, p_partkey AS k, p_name AS nm
        FROM part),
      pairs AS (
        SELECT a.brand, a.sz,
               CAST(floor(jaro_winkler_similarity(a.nm, b.nm) * 1000000 + 0.5)
                    AS BIGINT) AS jw
        FROM p a JOIN p b
          ON a.brand = b.brand AND a.sz = b.sz AND a.k < b.k)
      SELECT brand, CAST(sz AS BIGINT) AS sz,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN jw = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
             CAST(SUM(CASE WHEN jw >= 900000 AND jw < 1000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_close,
             CAST(SUM(jw) AS BIGINT) AS sum_jw,
             CAST(COALESCE(MAX(CASE WHEN jw < 1000000 THEN jw END), 0) AS BIGINT)
               AS best_sub
      FROM pairs GROUP BY brand, sz
      ORDER BY brand, sz""")),

    // ---- per-node local clustering coefficient over the q123 near-dup
    //      graph + the zz Watts–Strogatz average: the hub-vs-clique
    //      audit at node granularity. The oracle replays the oriented
    //      closure, the corner explode, and both truncating quotients
    //      on the exact-Jaccard pair list.
    ("q217_local_clustering", (s: SparkSession, dir: String) => {
      localClustering(Dedup.minhashNearDups(
        Tables(s, dir).documents.filter(col("doc_id") < 500),
        threshold = 0.8, numHashes = 16, bands = 16))
    }, Some(s"""
      WITH ${pairsSql()},
      deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT id_a AS id FROM pairs
                UNION ALL SELECT id_b FROM pairs) GROUP BY id),
      tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
              FROM pairs e1 JOIN pairs e2 ON e1.id_b = e2.id_a
              JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
      tn AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM (
               SELECT a AS id FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri) GROUP BY id),
      per AS (
        SELECT deg.id AS doc_id, deg.deg,
               COALESCE(tn.n_tri, 0) AS n_tri,
               CASE WHEN deg.deg >= 2
                    THEN (2000000 * COALESCE(tn.n_tri, 0))
                         // (deg.deg * (deg.deg - 1))
                    ELSE 0 END AS lcc_ppm
        FROM deg LEFT JOIN tn ON deg.id = tn.id)
      SELECT doc_id, deg, n_tri, CAST(lcc_ppm AS BIGINT) AS lcc_ppm FROM per
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
             CAST(SUM(n_tri) AS BIGINT),
             CAST(SUM(lcc_ppm) // greatest(count(*), 1) AS BIGINT)
      FROM per WHERE deg >= 2
      ORDER BY doc_id""")),

    // ---- quality-canonical representative per near-dup cluster: the
    //      curation step AFTER clustering — q57/q113 keep the LOWEST id
    //      (deterministic but arbitrary); a production pipeline keeps
    //      the BEST copy. Representative = argmax(n_chars, tie lowest
    //      doc_id) within each connected component of the q123 pair
    //      graph — the longest surviving copy is the least-truncated
    //      one, the standard reprint heuristic. Per-cluster ledger
    //      (members, kept id and its length, dropped count). CC labels
    //      come from the minhash pair list; the window partitions are
    //      cluster-sized, never corpus-sized. The oracle replays the
    //      recursive-CTE closure and the argmax tie contract.
    ("q228_canonical_rep", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents.filter(col("doc_id") < 500)
      val labels = Dedup.connectedComponents(Dedup.minhashNearDups(
        docs, threshold = 0.8, numHashes = 16, bands = 16))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      labels.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rn") === 1, col("doc_id"))).as("keep_id"),
          max(when(col("rn") === 1, col("n_chars"))).as("keep_chars"),
          (count(lit(1)) - 1).as("n_dropped"))
        .orderBy(col("cluster_id"))
    }, Some(s"""
      WITH RECURSIVE ${pairsSql()},
      ${Dedup.pairReachSql},
      labels AS (SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY n),
      ranked AS (
        SELECT l.cluster_id, l.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY l.cluster_id
                 ORDER BY d.n_chars DESC, l.doc_id) AS rn
        FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
      SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keep_id,
             CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keep_chars,
             CAST(count(*) - 1 AS BIGINT) AS n_dropped
      FROM ranked GROUP BY cluster_id
      ORDER BY cluster_id""")),

    // ---- dedup threshold sensitivity sweep: the SAME banded-minhash →
    //      exact-verify → connected-components pipeline at Jaccard 0.7
    //      / 0.8 / 0.9, one summary row each (pair count, cluster
    //      count, largest cluster, docs touched). THE release-decision
    //      table for a dedup threshold: a max-cluster that explodes
    //      between 0.8 and 0.7 says the corpus chains below 0.8 (the
    //      false-merge cliff); flat rows say the choice is safe. The
    //      oracle replays all three exact-pair closures.
    ("q231_threshold_sweep", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents.filter(col("doc_id") < 500)
      Seq(700000L, 800000L, 900000L).map { tPpm =>
        val pairs = graft.Stage.mat(Dedup.minhashNearDups(
          docs, threshold = tPpm / 1e6, numHashes = 16, bands = 16))
        val byC = Dedup.connectedComponents(pairs)
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("cs"))
        byC.agg(coalesce(count(lit(1)), lit(0L)).as("n_clusters"),
            coalesce(max(col("cs")), lit(0L)).as("max_cluster"),
            coalesce(sum(col("cs")), lit(0L)).as("n_docs_clustered"))
          .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
          .selectExpr(s"CAST($tPpm AS BIGINT) AS threshold_ppm", "n_pairs",
            "n_clusters", "max_cluster", "n_docs_clustered")
      }.reduce(_ unionByName _).orderBy(col("threshold_ppm"))
    }, Some(s"""
      WITH RECURSIVE ${pairsSql()},
      ${Seq(("700000", "0.7", "a"), ("800000", "0.8", "b"),
            ("900000", "0.9", "c")).map { case (ppm, t, x) =>
        s"""p$x AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM sh a, sh b WHERE a.id < b.id
            AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= $t),
        e$x AS (SELECT id_a AS src, id_b AS dst FROM p$x
                UNION SELECT id_b, id_a FROM p$x),
        r$x(n, r) AS (
          SELECT src, src FROM e$x
          UNION
          SELECT e.dst, r$x.r FROM r$x JOIN e$x e ON r$x.n = e.src),
        l$x AS (SELECT n, min(r) AS cid FROM r$x GROUP BY n),
        g$x AS (SELECT cid, CAST(count(*) AS BIGINT) AS cs FROM l$x GROUP BY cid),
        st$x AS (
          SELECT CAST($ppm AS BIGINT) AS threshold_ppm,
                 (SELECT CAST(count(*) AS BIGINT) FROM p$x) AS n_pairs,
                 CAST(count(*) AS BIGINT) AS n_clusters,
                 CAST(COALESCE(MAX(cs), 0) AS BIGINT) AS max_cluster,
                 CAST(COALESCE(SUM(cs), 0) AS BIGINT) AS n_docs_clustered
          FROM g$x)"""
      }.mkString(",\n      ")}
      SELECT * FROM sta
      UNION ALL SELECT * FROM stb
      UNION ALL SELECT * FROM stc
      ORDER BY threshold_ppm""")),

    // ---- cross-source contamination matrix: near-dup pairs bucketed
    //      by canonical (source, source) — which mirrors which. A
    //      heavy off-diagonal cell is a SYNDICATION edge (drop one
    //      side wholesale); a heavy diagonal is within-source reprint
    //      noise. Shares in ppm of all near-dup pairs. The oracle
    //      replays the exact pair list and both source joins.
    ("q232_source_contamination", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents.filter(col("doc_id") < 500)
      val src = docs.select(col("doc_id"), col("source"))
      val per = Dedup.minhashNearDups(docs, threshold = 0.8,
          numHashes = 16, bands = 16)
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
        .selectExpr("least(sa, sb) AS src_a", "greatest(sa, sb) AS src_b")
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
        .transform(graft.Stage.mat)
      val tot = per.agg(sum(col("n_pairs")).as("t"))
      per.crossJoin(broadcast(tot))
        .selectExpr("src_a", "src_b", "n_pairs",
          "CAST(src_a = src_b AS BOOLEAN) AS within_source",
          "(1000000 * n_pairs) DIV greatest(t, 1) AS share_ppm")
        .orderBy(col("src_a"), col("src_b"))
    }, Some(s"""
      WITH ${pairsSql()},
      j AS (
        SELECT least(da.source, db.source) AS src_a,
               greatest(da.source, db.source) AS src_b
        FROM pairs p JOIN documents da ON p.id_a = da.doc_id
        JOIN documents db ON p.id_b = db.doc_id),
      per AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
              FROM j GROUP BY src_a, src_b),
      tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t FROM per)
      SELECT src_a, src_b, n_pairs, (src_a = src_b) AS within_source,
             CAST((1000000 * n_pairs) // greatest(t, 1) AS BIGINT) AS share_ppm
      FROM per CROSS JOIN tot
      ORDER BY src_a, src_b"""))
  )
}
