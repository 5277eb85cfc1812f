package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.text.{Dedup, Scrub, TextStats}

/** Data-curation operators for the training-pipeline surface: PII
  * scrubbing, benchmark decontamination, deterministic domain mixing,
  * and dedup-cluster resolution. Every query here is DuckDB-oracled —
  * the scrub via engine-portable regexes, the sample via the portable
  * md5 hash, the clusters via a recursive-CTE transitive closure over
  * the exact near-dup pair set (q37's oracle argument extended one step).
  */
object CurationOps {
  import Relational.QFn

  private val ws = TextStats.wsClassSql

  /** Deterministic synthetic PII suffix, built identically on both
    * engines from doc_id/source (the fixture corpus is word salad with
    * no natural PII, so the redaction patterns are exercised against a
    * constructed-but-realistic payload instead of matching nothing).
    */
  private def piiText = concat(
    lit("contact user"), col("doc_id").cast("string"),
    lit("@mail-"), col("source"), lit(".org or call ("),
    lpad((pmod(col("doc_id") * 37, lit(900)) + 100).cast("string"), 3, "0"), lit(") "),
    lpad(pmod(col("doc_id") * 13, lit(1000)).cast("string"), 3, "0"), lit("-"),
    lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"),
    lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"),
    lit(".0."), pmod(col("doc_id") * 3, lit(256)).cast("string"),
    lit(" "), col("text"))

  private val piiTextSql =
    """concat('contact user', CAST(doc_id AS VARCHAR),
       '@mail-', source, '.org or call (',
       lpad(CAST((doc_id * 37) % 900 + 100 AS VARCHAR), 3, '0'), ') ',
       lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0'), '-',
       lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0'),
       ' ip 10.', CAST(doc_id % 256 AS VARCHAR),
       '.0.', CAST((doc_id * 3) % 256 AS VARCHAR), ' ', text)"""

  /** Deterministic multi-line payload for the rule-set queries (q76/
    * q77): the word-salad fixture is one line with no punctuation,
    * bullets, symbols, or most stopwords, so the line-level rules would
    * never fire. These constructed lines — built identically on both
    * engines from doc_id — give every Gopher/C4 rule a real pass/fail
    * split: a well-formed intro (always), a too-short line (%3), bullet
    * lines (%5), a trailing-ellipsis line (%7), a '#' symbol line (%13),
    * a lorem-ipsum line (%37), a curly-brace line (%23), a stopword-rich
    * line (%4), a javascript line (%11), then the original text (no
    * terminal punctuation — C4 drops it, Gopher counts its words).
    */
  private def ruleLinesText = concat(
    lit("Intro line for document "), col("doc_id").cast("string"),
    lit(" with plenty of good words here.\n"),
    when(pmod(col("doc_id"), lit(3)) === 0, lit("Tiny line.\n")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(5)) === 0, lit("- bullet point entry\n")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(5)) === 1, lit("* another bullet marker here\n")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(7)) === 0,
      lit("this sentence trails away into silence ...\n")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(13)) === 0, lit("### heading marker ###\n")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(37)) === 0,
      lit("Lorem ipsum dolor sit amet consectetur.\n")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(23)) === 0,
      lit("function blob { return 1; }\n")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(4)) < 2,
      lit("and that have with of be to the stopword rich line.\n")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(11)) === 0,
      lit("It uses javascript for rendering today.\n")).otherwise(lit("")),
    col("text"))

  private val ruleLinesTextSql =
    """concat(
       'Intro line for document ', CAST(doc_id AS VARCHAR),
       ' with plenty of good words here.', chr(10),
       CASE WHEN doc_id % 3 = 0 THEN 'Tiny line.' || chr(10) ELSE '' END,
       CASE WHEN doc_id % 5 = 0 THEN '- bullet point entry' || chr(10) ELSE '' END,
       CASE WHEN doc_id % 5 = 1 THEN '* another bullet marker here' || chr(10) ELSE '' END,
       CASE WHEN doc_id % 7 = 0 THEN 'this sentence trails away into silence ...' || chr(10) ELSE '' END,
       CASE WHEN doc_id % 13 = 0 THEN '### heading marker ###' || chr(10) ELSE '' END,
       CASE WHEN doc_id % 37 = 0 THEN 'Lorem ipsum dolor sit amet consectetur.' || chr(10) ELSE '' END,
       CASE WHEN doc_id % 23 = 0 THEN 'function blob { return 1; }' || chr(10) ELSE '' END,
       CASE WHEN doc_id % 4 < 2 THEN 'and that have with of be to the stopword rich line.' || chr(10) ELSE '' END,
       CASE WHEN doc_id % 11 = 0 THEN 'It uses javascript for rendering today.' || chr(10) ELSE '' END,
       text)"""

  /** The q76 signal CTEs `t(doc_id, pt, toks, ls)` and `sg` (expects
    * CTE `p(doc_id, pt)` in scope) — shared verbatim between the
    * standalone rule query and the composed q89 pipeline so the two
    * oracles cannot drift.
    */
  private def gopherSgSql = s"""t AS (SELECT doc_id, pt,
              list_filter(regexp_split_to_array(lower(pt), '$ws+'), x -> x <> '') AS toks,
              regexp_split_to_array(pt, '\n') AS ls
            FROM p),
      sg AS (SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                     / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS mean_word_len_r,
               round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                     / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS frac_alpha_r,
               CAST(len(list_intersect(toks,
                 ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_hits,
               round(CAST((len(pt) - len(regexp_replace(pt, '#', '', 'g')))
                          + ((len(pt) - len(regexp_replace(pt, '\\.\\.\\.', '', 'g'))) // 3)
                       AS DOUBLE)
                     / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS symbol_ratio_r,
               round(CAST(len(list_filter(ls, l ->
                       starts_with(trim(l), '-') OR starts_with(trim(l), '*'))) AS DOUBLE)
                     / CAST(greatest(len(ls), 1) AS DOUBLE), 6) AS frac_bullet_r,
               round(CAST(len(list_filter(ls, l -> ends_with(trim(l), '...'))) AS DOUBLE)
                     / CAST(greatest(len(ls), 1) AS DOUBLE), 6) AS frac_ellipsis_r
             FROM t)"""

  /** The q76 overall-keep predicate over `sg`'s columns. */
  private val gopherKeepSql = """(n_words BETWEEN 50 AND 100000)
               AND (mean_word_len_r >= 3.0 AND mean_word_len_r <= 10.0)
               AND (symbol_ratio_r < 0.1) AND (frac_bullet_r < 0.9)
               AND (frac_ellipsis_r < 0.3) AND (frac_alpha_r >= 0.8)
               AND (n_stop_hits >= 2)"""

  /** The q77 kept-lines expression (expects `ls` in scope). */
  private def c4KeptSql = s"""list_filter(ls, l -> regexp_matches(trim(l), '[.!?"]$$')
                AND len(list_filter(regexp_split_to_array(trim(l), '$ws+'),
                        w -> w <> '')) >= 5
                AND NOT contains(lower(trim(l)), 'javascript'))"""

  /** Greedy maximum-coverage document selection (the classic (1−1/e)
    * submodular greedy — Nemhauser, Wolsey & Fisher 1978; the
    * facility-location/coverage objective data-curation pipelines use
    * to pick a small, DIVERSE exemplar set): at each step, select the
    * document covering the most 3-gram shingles not yet covered by the
    * selection. The dual of dedup — instead of dropping redundancy,
    * pick the subset that SPANS the corpus.
    *
    * Output: one row per step (step, doc_id, gain = newly covered
    * shingles, covered_total = running union size). Ties break on
    * doc_id; a fully-covered document leaves the candidate pool by
    * construction (zero remaining shingles ⇒ no aggregate row).
    *
    * Scale shape (round 14, VERDICT r13 ask #3 / guide §3.1+§2.4): the
    * covered set is the shingle union of the ≤ k picked documents —
    * bounded by k × one document's shingles, exactly the exemplar-
    * selection regime (k small, documents driver-manageable by
    * definition) — so it lives as BROADCAST state, not as a shuffled
    * table. Each of the k driver-bounded rounds is then ONE job: a
    * broadcast anti semi-filter of the materialized (doc, shingle)
    * table (no shuffle of sh, no per-round distinct/checkpoint of the
    * covered table — the r13 form paid a shingle-keyed shuffle
    * anti-join PLUS a covered-set distinct+materialize job per round)
    * + one map-side-combined per-doc count + one TakeOrderedAndProject
    * top-1, and one narrow winner-shingle fetch that feeds the next
    * round's broadcast. Only one stat row and one document's shingles
    * are ever collected per round (the k-means centroid precedent).
    */
  def greedyMaxCoverage(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Scan-parallelism guard (guide §2.5 "input skew: one unsplittable
    // file"): the shingle pass is the query's whole CPU bill
    // (tokenize + 3-gram explode), and a fixture-sized corpus arrives
    // as ONE unsplittable parquet split — a single task tokenizes the
    // corpus while every other core idles (measured: 3.2 s CPU ≈ the
    // idle wall at sf0.1). When the scan has fewer partitions than the
    // session's parallelism, round-robin the rows out first; at real
    // scale the scan has thousands of splits and this is a no-op, so
    // nothing is tuned to local mode.
    val par = spark.sparkContext.defaultParallelism
    val small = docs.rdd.getNumPartitions < par
    val d = if (small) docs.repartition(par) else docs
    val toks = filter(TextStats.tokens(lower(col("text"))), t => t =!= lit(""))
    val shM = d.select(col("doc_id"),
      explode(when(size(toks) < 3, expr("CAST(array() AS ARRAY<STRING>)"))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(toks) - 2),
          i => array_join(slice(toks, i, lit(3)), " "))))).as("sh"))
      .transform(graft.Stage.mat) // k rounds re-probe this table
    // ...and on the small-corpus path merge the spread-out blocks back
    // for the k round scans: a fixture-sized shingle table re-read at
    // 32-way fan-out pays ~25 ms of fixed task cost per tiny block per
    // round (measured 0.84 s CPU per argmax vs 0.04 single-task). At
    // real scale `small` is false and neither knob engages.
    val sh = if (small) shM.coalesce(1) else shM
    var covered = Set.empty[String] // shingles of picked docs: ≤ k docs' worth
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var total = 0L
    for (step <- 1 to 5) {
      val resid =
        if (covered.isEmpty) sh
        else sh.join(broadcast(covered.toSeq.toDF("sh")), Seq("sh"), "left_anti")
      val best = resid
        .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id")).limit(1)
        .collect() // exactly one row per round — bounded driver state
      best.headOption.foreach { r =>
        val (id, gain) = (r.getLong(0), r.getLong(1))
        total += gain
        picked += ((step.toLong, id, gain, total))
        if (step < 5)
          covered ++= sh.filter(col("doc_id") === id).select(col("sh"))
            .as[String].collect() // one document's shingles
      }
    }
    picked.toSeq.toDF("step", "doc_id", "gain", "covered_total")
      .orderBy(col("step"))
  }

  /** Each vector's k-means cell joined back to its embedding, as
    * (vec_id, centroid_id, embedding), materialized: the input of the
    * within-cell pair passes (q258, q308). k follows the cell contract
    * from the one corpus count and the budget guard refuses an
    * unbounded cell; `fit` gives the memoized centroid table for k
    * when the caller has one.
    */
  private def cellMembers(emb: org.apache.spark.sql.DataFrame,
                          fit: Option[Int => Seq[(Int, Seq[Double])]])
      : org.apache.spark.sql.DataFrame = {
    val n = emb.count()
    val k = graft.text.Similarity.cellCountFor(n)
    graft.text.Similarity.requireCellBounded(n, k)
    val asg = fit.map(f => graft.text.Similarity.kmeansAssignWith(f(k), emb).drop("v"))
      .getOrElse(graft.text.Similarity.kmeansAssign(emb, k = k, dim = 64))
    graft.Stage.mat(asg.select(col("vec_id"), col("centroid_id"))
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id")))
  }

  /** q258's cell-bounded DBSCAN (Ester et al. 1996) over an embedding
    * corpus — extracted so ScaleSmoke can measure its growth curve on
    * replicated corpora (VERDICT r8 ask #2) and so the cell discipline
    * lives in ONE place: the cell count is NOT a fixture literal but
    * the shared k ∝ n contract [[graft.text.Similarity.cellCountFor]]
    * (VERDICT r8 ask #1), with
    * [[graft.text.Similarity.requireCellBounded]] refusing any call
    * whose expected cell size blows the quadratic budget — the same
    * helper pair q225/q75 SemDeDup ride. Neighborhoods are round-6
    * cos ≥ 0.35 WITHIN the kmeans cell (the documented deviation from
    * textbook DBSCAN: the eps-graph is IVF-cell-bounded, never
    * all-pairs, so cross-cell density chains cut at cell borders);
    * core = ≥ minPts−1 = 2 in-cell neighbors; clusters = connected
    * components of the core-core graph; border joins its minimum core
    * cluster; the rest is noise (the −1 row).
    */
  def densityClusters(emb: org.apache.spark.sql.DataFrame,
                      fit: Option[Int => Seq[(Int, Seq[Double])]] = None)
      : org.apache.spark.sql.DataFrame = {
    val mem = cellMembers(emb, fit)
    val pa = mem.select(col("centroid_id"), col("vec_id").as("id_a"),
      col("embedding").as("va"))
    val pb = mem.select(col("centroid_id"), col("vec_id").as("id_b"),
      col("embedding").as("vb"))
    val pairs = graft.Stage.mat(pa.join(pb, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(graft.text.Similarity.cosine(col("va"), col("vb")), 6) >= 0.35)
      .select(col("id_a"), col("id_b")))
    val adj = pairs.select(col("id_a").as("v"), col("id_b").as("nbr"))
      .unionByName(pairs.select(col("id_b").as("v"), col("id_a").as("nbr")))
    val core = graft.Stage.mat(adj.groupBy(col("v")).agg(count(lit(1)).as("nn"))
      .filter(col("nn") >= 2).select(col("v")))
    val coreEdges = pairs
      .join(core.select(col("v").as("id_a")), Seq("id_a"), "left_semi")
      .join(core.select(col("v").as("id_b")), Seq("id_b"), "left_semi")
    // alternating CC directly (round 14): a DBSCAN core graph is
    // density-CONNECTED by construction — chains through embedding
    // space with unbounded diameter, the opposite of the near-dup
    // clique regime min-label propagation is sized for. Measured at
    // sf0.1: the propagation path burned all 8 diameterHint rounds
    // without converging and THEN ran the alternating algorithm anyway
    // (8 wasted mats + probes per query). Labels are identical (min id
    // of the component — CurationSpec pins the two algorithms' output
    // agreement), so this is purely a cost knob.
    val comp = graft.text.Dedup.connectedComponentsAlternating(coreEdges)
    // isolated cores (no core neighbor) are their own singleton cluster
    val coreLab = graft.Stage.mat(
      comp.select(col("doc_id").as("v"), col("cluster_id"))
        .unionByName(core
          .join(comp.select(col("doc_id").as("v")), Seq("v"), "left_anti")
          .select(col("v"), col("v").as("cluster_id"))))
    val borderLab = adj
      .join(core, Seq("v"), "left_anti")
      .join(coreLab.select(col("v").as("nbr"), col("cluster_id")), Seq("nbr"))
      .groupBy(col("v")).agg(min(col("cluster_id")).as("cluster_id"))
    val allLab = coreLab.withColumn("is_core", lit(1L))
      .unionByName(borderLab.withColumn("is_core", lit(0L)))
    val per = allLab.groupBy(col("cluster_id"))
      .agg(sum(col("is_core")).as("n_core"),
        sum(lit(1L) - col("is_core")).as("n_border"))
      .selectExpr("cluster_id", "n_core", "n_border",
        "n_core + n_border AS n_points")
    val noise = emb.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(allLab.agg(count(lit(1)).as("nl"))))
      .selectExpr("CAST(-1 AS BIGINT) AS cluster_id", "CAST(0 AS BIGINT) AS n_core",
        "CAST(0 AS BIGINT) AS n_border", "n - nl AS n_points")
    per.unionByName(noise).orderBy(col("cluster_id"))
  }

  /** q308's cosine thresholds in percent, ascending. */
  private val SweepThresholdsPct = Seq(35, 50, 65)

  /** Similarity-graph percolation sweep (q308): per cosine threshold,
    * edge/linked/component/largest/isolated stats over ONE cell-bounded
    * pair table (the q258 discipline — `cellCountFor` k, within-cell
    * pairs only, computed once with cos_r kept), with an independent
    * connected-components run per threshold.
    *
    * Independent CC per level, not CC on the previous level's contracted
    * supernode graph: contraction measured SLOWER (r10 ScaleSmoke,
    * ±1-orthant replicas at sf0.1: 10.3 s vs 8.7 s at 1×), because a
    * sweep that spans the percolation point resolves almost nothing
    * above the collapse threshold, so the densest level's CC arrives
    * essentially uncontracted while every level pays the contraction's
    * extra joins + barrier.
    */
  def percolationSweep(emb: org.apache.spark.sql.DataFrame,
                       fit: Option[Int => Seq[(Int, Seq[Double])]] = None)
      : org.apache.spark.sql.DataFrame = {
    // the pair table is built once, at the lowest threshold
    val pairs = percolationPairs(emb, SweepThresholdsPct.head, fit)
    def level(t: Int): org.apache.spark.sql.DataFrame = {
      val et = graft.Stage.mat(pairs.filter(col("cos_r") >= t / 100.0)
        .select(col("id_a"), col("id_b")))
      // alternating CC directly (round 14, the q258 reasoning): a
      // percolation sweep SPANS the collapse threshold on purpose,
      // so the densest level holds the emerging giant component —
      // a long-chain graph where min-label propagation burned its
      // 8 hint rounds and escalated anyway (measured at sf0.1).
      // Labels identical; oracle replays independent CC per level.
      percolationLevelStat(t, et, graft.Stage.mat(
        graft.text.Dedup.connectedComponentsAlternating(et)
          .select(col("doc_id").as("v"), col("cluster_id").as("lbl"))))
    }
    // guide §2.6 (overlap independent jobs): the per-threshold CC chains
    // are fully independent — each is a string of small
    // barrier-separated jobs (propagation rounds + convergence probes),
    // so run sequentially the sweep's wall is Σ(chains) of mostly idle
    // barriers. Submitting the levels from driver threads lets one
    // chain's jobs back-fill another's barrier tails: wall ≈ max(chain)
    // + shared prep (measured 7.4 → ~4 s at sf0.1). Results are
    // bit-identical — each level computes exactly what it computed
    // sequentially. The await is finite so a wedged level fails the
    // query loudly instead of parking the driver forever; a failed or
    // timed-out sweep cancels its levels' jobs.
    import scala.concurrent.duration._
    val stats = graft.Stage.concurrently(emb.sparkSession, "q308", timeout = 30.minutes)(
      SweepThresholdsPct.reverse.map(t => () => level(t)))
    stats.reduce(_ unionByName _)
      .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_total"))))
      .selectExpr("threshold_pct", "n_edges", "n_linked", "n_components",
        "max_component", "n_total - n_linked AS n_isolated")
      .orderBy(col("threshold_pct"))
  }

  /** Every adjacent word pair in the corpus as one string `g` ("a b") —
    * the bigram stream of the frequency-spectrum queries (q284 Good–Turing,
    * q292 Hill tail index, q316 Chao1). */
  private def wordBigrams(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(filter(TextStats.tokens(lower(col("text"))),
        x => x =!= lit("")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("g"))

  /** DuckDB twin of [[wordBigrams]]: CTEs `t(toks)` and `bi(g)`. */
  private val wordBigramsSql: String = s"""t AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '$ws+'),
                 x -> x <> '') AS toks
        FROM documents),
      bi AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i + 1])) AS g
        FROM t WHERE len(toks) >= 2)"""

  /** q308's pair table: within-cell pairs (`cellCountFor` k, kmeans
    * cells) with their 6-place cosine `cos_r`, kept at or above the
    * sweep's lowest threshold `minPct` / 100.
    */
  private[graft] def percolationPairs(emb: org.apache.spark.sql.DataFrame,
                                      minPct: Int,
                                      fit: Option[Int => Seq[(Int, Seq[Double])]])
      : org.apache.spark.sql.DataFrame = {
    val mem = cellMembers(emb, fit)
    graft.Stage.mat(
      mem.select(col("centroid_id"), col("vec_id").as("id_a"),
          col("embedding").as("va"))
        .join(mem.select(col("centroid_id"), col("vec_id").as("id_b"),
          col("embedding").as("vb")), Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos_r",
          round(graft.text.Similarity.cosine(col("va"), col("vb")), 6))
        .filter(col("cos_r") >= minPct / 100.0)
        .select(col("id_a"), col("id_b"), col("cos_r")))
  }

  /** One sweep level's stat row from its edge set `et` (id_a, id_b) and
    * the component labels (v, lbl) of every node `et` touches.
    */
  private[graft] def percolationLevelStat(t: Int,
                                          et: org.apache.spark.sql.DataFrame,
                                          labels: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val per = labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
    et.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(per.agg(
        coalesce(sum(col("sz")), lit(0L)).as("n_linked"),
        count(lit(1)).as("n_components"),
        coalesce(max(col("sz")), lit(0L)).as("max_component"))))
      .selectExpr(s"CAST($t AS BIGINT) AS threshold_pct", "n_edges",
        "n_linked", "n_components", "max_component")
  }

  val defs: Seq[(String, QFn, Option[String])] = Seq(

    // ---- greedy max-coverage exemplar selection: 5 rounds of the
    //      submodular greedy over distinct 3-gram shingles. The oracle
    //      unrolls the 5 rounds as CTEs (anti-join → argmax with the
    //      (gain desc, doc_id) tie-break → union) and recovers
    //      covered_total as the running gain sum.
    ("q254_max_coverage", (s: SparkSession, dir: String) => {
      greedyMaxCoverage(Tables(s, dir).documents)
    }, Some {
      val steps = (2 to 5).map { i =>
        val p = i - 1
        s"""g$i AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS gain
               FROM sh s LEFT JOIN c$p ON s.sh = c$p.sh
               WHERE c$p.sh IS NULL GROUP BY s.doc_id),
      b$i AS (SELECT doc_id, gain FROM g$i ORDER BY gain DESC, doc_id LIMIT 1),
      c$i AS (SELECT sh FROM c$p UNION
              SELECT s.sh FROM sh s JOIN b$i USING (doc_id))"""
      }.mkString(",\n      ")
      val union = (2 to 5).map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, doc_id, gain FROM b$i")
        .mkString("\n      UNION ALL ")
      s"""
      WITH ${TextStats.docTokensSql},
      sh AS (SELECT doc_id,
                    unnest(list_distinct(
                      CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
                           ELSE list_transform(range(1, len(toks) - 1),
                                  i -> array_to_string(toks[i:i+2], ' ')) END)) AS sh
             FROM t),
      g1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
             FROM sh GROUP BY doc_id),
      b1 AS (SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1),
      c1 AS (SELECT DISTINCT s.sh FROM sh s JOIN b1 USING (doc_id)),
      $steps,
      allb AS (
        SELECT CAST(1 AS BIGINT) AS step, doc_id, gain FROM b1
      UNION ALL $union)
      SELECT step, doc_id, gain,
             CAST(SUM(gain) OVER (ORDER BY step) AS BIGINT) AS covered_total
      FROM allb ORDER BY step"""
    }),

    // ---- purged k-fold with embargo (López de Prado 2018, the
    //      leakage-safe CV for serially-correlated data): 5 contiguous
    //      6-day test blocks over the fixture month; a fold's training
    //      set excludes the test days AND a ±2-day embargo, so
    //      autocorrelated leakage across the boundary is structurally
    //      impossible. The q121 cluster-split discipline transplanted
    //      to the TIME axis. Emits per fold: day range, test/train/
    //      purged event counts, and min_train_gap — the in-plan
    //      certification (≥ 3 by construction) that no training event
    //      sits inside the embargo; the oracle replays counts and cert.
    //      Scale shape: one broadcast of the 5-row fold table against
    //      the events scan, one map-side-combined (fold) aggregate —
    //      the k-fold expansion is map-side only; nothing shuffles
    //      beyond 5 groups.
    ("q244_purged_kfold", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir).events
        .selectExpr("event_id", "CAST(day(ts) AS BIGINT) AS d")
      val folds = s.range(0, 5).selectExpr("id AS f",
        "id * 6 + 1 AS lo", "id * 6 + 6 AS hi")
      broadcast(folds).join(ev,
          expr("true"), "inner")
        .groupBy(col("f"), col("lo"), col("hi"))
        .agg(
          sum(when(col("d").between(col("lo"), col("hi")), 1L).otherwise(0L))
            .as("n_test"),
          sum(when(col("d") < col("lo") - 2 || col("d") > col("hi") + 2, 1L)
            .otherwise(0L)).as("n_train"),
          sum(when(!col("d").between(col("lo"), col("hi"))
            && col("d") >= col("lo") - 2 && col("d") <= col("hi") + 2, 1L)
            .otherwise(0L)).as("n_purged"),
          min(when(col("d") < col("lo") - 2, col("lo") - col("d"))
            .when(col("d") > col("hi") + 2, col("d") - col("hi")))
            .as("min_train_gap"))
        .orderBy(col("f"))
    }, Some("""
      WITH ev AS (SELECT event_id, CAST(day(ts) AS BIGINT) AS d FROM events),
      folds AS (SELECT CAST(f AS BIGINT) AS f, CAST(f * 6 + 1 AS BIGINT) AS lo,
                       CAST(f * 6 + 6 AS BIGINT) AS hi
                FROM (SELECT unnest(range(0, 5)) AS f)),
      j AS (SELECT f, lo, hi, d FROM folds CROSS JOIN ev)
      SELECT f, lo, hi,
             CAST(SUM(CASE WHEN d BETWEEN lo AND hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN d < lo - 2 OR d > hi + 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN d NOT BETWEEN lo AND hi
                            AND d >= lo - 2 AND d <= hi + 2
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
             CAST(MIN(CASE WHEN d < lo - 2 THEN lo - d
                           WHEN d > hi + 2 THEN d - hi END) AS BIGINT)
               AS min_train_gap
      FROM j GROUP BY f, lo, hi
      ORDER BY f""")),

    // ---- Cochran's Q (Cochran 1950) across three binary quality
    //      gates on the same documents: do the Gopher rules, the C4
    //      pass, and the length-200 floor REJECT AT THE SAME RATE, or
    //      is one gate systematically stricter? The k-treatment
    //      binary-outcome extension of q247's McNemar, all integers:
    //        Q_micros = ((k−1)·(k·ΣC_j² − N²)·1e6)
    //                   DIV greatest(k·N − ΣR_i², 1)
    //      with C_j the per-gate pass totals, R_i the per-doc pass
    //      counts, N = ΣC_j. Output: one row per gate (passes) + a
    //      'zz_q' row (n_docs, Q micros). The oracle replays both
    //      gate predicates (the q76/q77 CTEs verbatim) and the fold.
    //      Scale shape: the gates are pure narrow Column expressions
    //      (one codegen scan), then one doc-level 4-sum aggregate —
    //      everything after is k-row arithmetic.
    ("q249_cochran_q", (s: SparkSession, dir: String) => {
      val base = Tables(s, dir).documents
      val g = graft.text.Quality.gopherQuality(
          base.withColumn("text", ruleLinesText))
        .select(col("doc_id"), col("keep").cast("long").as("x1"))
      val c4 = graft.text.Quality.c4Clean(
          base.withColumn("text", ruleLinesText))
        .select(col("doc_id"), col("keep_doc").cast("long").as("x2"))
      val len = base.select(col("doc_id"),
        (col("n_chars") >= 200).cast("long").as("x3"))
      val rows = g.join(c4, Seq("doc_id")).join(len, Seq("doc_id"))
        .withColumn("r", col("x1") + col("x2") + col("x3"))
      val agg = rows.agg(count(lit(1)).as("n_docs"),
        sum(col("x1")).as("c1"), sum(col("x2")).as("c2"),
        sum(col("x3")).as("c3"), sum(col("r") * col("r")).as("sr2"))
        .transform(graft.Stage.mat) // feeds the gate rows AND the Q fold
      val gates = agg.selectExpr(
        "stack(3, 'c4', c2, 'gopher', c1, 'len200', c3) AS (gate, passes)")
        .selectExpr("gate", "passes", "CAST(0 AS BIGINT) AS stat_micros")
      val q = agg.selectExpr("n_docs", "c1 + c2 + c3 AS nn",
        "c1 * c1 + c2 * c2 + c3 * c3 AS sc2", "sr2")
        .selectExpr("'zz_q' AS gate", "n_docs AS passes",
          """CAST((2 * (3 * CAST(sc2 AS DECIMAL(38,0)) - CAST(nn AS DECIMAL(38,0)) * nn)
                   * 1000000)
                  DIV greatest(3 * CAST(nn AS DECIMAL(38,0)) - sr2, 1)
              AS BIGINT) AS stat_micros""")
      gates.unionAll(q).orderBy(col("gate"))
    }, Some(s"""
      WITH p AS (SELECT doc_id, $ruleLinesTextSql AS pt FROM documents),
      $gopherSgSql,
      g AS (SELECT doc_id,
                   CAST(CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END AS BIGINT) AS x1
            FROM sg),
      kk AS (SELECT doc_id, pt, ls, $c4KeptSql AS kept FROM t),
      c4 AS (SELECT doc_id,
                    CAST(CASE WHEN len(kept) >= 3
                               AND NOT contains(lower(pt), 'lorem ipsum')
                               AND NOT contains(pt, '{')
                              THEN 1 ELSE 0 END AS BIGINT) AS x2
             FROM kk),
      ln3 AS (SELECT doc_id,
                     CAST(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS BIGINT) AS x3
              FROM documents),
      rws AS (SELECT g.doc_id, x1, x2, x3, x1 + x2 + x3 AS r
              FROM g JOIN c4 ON g.doc_id = c4.doc_id
              JOIN ln3 ON g.doc_id = ln3.doc_id),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(SUM(x1) AS BIGINT) AS c1, CAST(SUM(x2) AS BIGINT) AS c2,
                     CAST(SUM(x3) AS BIGINT) AS c3,
                     CAST(SUM(r * r) AS BIGINT) AS sr2
              FROM rws)
      SELECT 'c4' AS gate, c2 AS passes, CAST(0 AS BIGINT) AS stat_micros FROM agg
      UNION ALL
      SELECT 'gopher', c1, CAST(0 AS BIGINT) FROM agg
      UNION ALL
      SELECT 'len200', c3, CAST(0 AS BIGINT) FROM agg
      UNION ALL
      SELECT 'zz_q', n_docs,
             CAST((2 * (3 * CAST(c1 * c1 + c2 * c2 + c3 * c3 AS HUGEINT)
                        - CAST(c1 + c2 + c3 AS HUGEINT) * (c1 + c2 + c3))
                   * 1000000)
                  // greatest(3 * CAST(c1 + c2 + c3 AS HUGEINT) - sr2, 1)
               AS BIGINT)
      FROM agg
      ORDER BY gate""")),

    // ---- PII scrubbing (C4/Dolma-style redaction + audit counts) ----
    ("q54_pii_scrub", (s: SparkSession, dir: String) => {
      val (ne, np, ni) = Scrub.piiCounts(piiText)
      Tables(s, dir).documents
        .select(col("doc_id"),
          Scrub.scrubPii(piiText).as("scrubbed"),
          ne.cast("int").as("n_emails"), np.cast("int").as("n_phones"),
          ni.cast("int").as("n_ips"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH p AS (SELECT doc_id, $piiTextSql AS pii FROM documents),
      s1 AS (SELECT doc_id, pii,
               regexp_replace(pii, ${Scrub.sqlLit(Scrub.EmailRe)}, '<EMAIL>', 'g') AS t1 FROM p),
      s2 AS (SELECT doc_id, pii, t1,
               regexp_replace(t1, ${Scrub.sqlLit(Scrub.PhoneRe)}, '<PHONE>', 'g') AS t2 FROM s1)
      SELECT doc_id,
        regexp_replace(t2, ${Scrub.sqlLit(Scrub.Ipv4Re)}, '<IP>', 'g') AS scrubbed,
        CAST(len(regexp_extract_all(pii, ${Scrub.sqlLit(Scrub.EmailRe)})) AS INTEGER) AS n_emails,
        CAST(len(regexp_extract_all(t1, ${Scrub.sqlLit(Scrub.PhoneRe)})) AS INTEGER) AS n_phones,
        CAST(len(regexp_extract_all(t2, ${Scrub.sqlLit(Scrub.Ipv4Re)})) AS INTEGER) AS n_ips
      FROM s2 ORDER BY doc_id""")),

    // ---- benchmark decontamination (k-gram overlap vs an eval set) ----
    ("q55_contamination", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents
      Dedup.contamination(
          docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(50)) === 0))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${Dedup.contaminationHitsSql}
      SELECT d.doc_id,
        CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
        COALESCE(h.n_shared, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""")),

    // ---- FUZZY decontamination (the paraphrase-level complement of
    //      q55's exact shingle overlap and q92's Bloom membership):
    //      banded-MinHash candidates between the training split and the
    //      held-out benchmark split, exact-Jaccard verified at 0.8,
    //      aggregated to a per-document keep verdict. The oracle
    //      recomputes the exact all-pairs cross join on string shingles
    //      (band-miss ≤ 7e-12, the q37 argument) — so the banded path's
    //      survivor set is value-verified, match counts and all.
    ("q144_fuzzy_decontam", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents
      val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val pairs = Dedup.fuzzyDecontamination(corpus, bench, threshold = 0.8)
      corpus.select(col("doc_id"))
        .join(pairs.groupBy(col("id_c").as("doc_id"))
          .agg(count(lit(1)).as("n_matches"),
            round(max(col("jaccard")), 9).as("mx")), Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "coalesce(n_matches, 0L) AS n_matches",
          "coalesce(mx, 0.0) AS max_jaccard_r",
          "coalesce(n_matches, 0L) = 0 AS keep")
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH sh AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(lower(text), '$ws+')) - 2, 1) + 1),
          i -> array_to_string(regexp_split_to_array(lower(text), '$ws+')[i:i+2], ' '))) AS s
        FROM documents),
      b AS (SELECT * FROM sh WHERE doc_id % 50 = 0),
      c AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
      p AS (
        SELECT c.doc_id,
               CAST(len(list_intersect(c.s, b.s)) AS DOUBLE)
                 / greatest(len(list_distinct(list_concat(c.s, b.s))), 1) AS j
        FROM c, b),
      m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
                   round(max(j), 9) AS mx
            FROM p WHERE j >= 0.8 GROUP BY doc_id)
      SELECT d.doc_id,
             COALESCE(m.n_matches, 0) AS n_matches,
             COALESCE(m.mx, 0.0) AS max_jaccard_r,
             COALESCE(m.n_matches, 0) = 0 AS keep
      FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
      WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""")),

    // ---- deterministic stratified sampling (domain mixing) ----
    ("q56_stratified_sample", (s: SparkSession, dir: String) => {
      Sampling.stratifiedSample(Tables(s, dir).documents,
          strataCol = "lang", keyCol = "doc_id",
          ratesPerMille = Map("en" -> 700, "zh" -> 400, "de" -> 250),
          defaultPerMille = 500)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      SELECT doc_id, lang, source FROM documents
      WHERE ${Sampling.hashBucketSql} <
        CASE lang WHEN 'en' THEN 700 WHEN 'zh' THEN 400 WHEN 'de' THEN 250 ELSE 500 END
      ORDER BY doc_id""")),

    // ---- dedup cluster resolution over the q37 near-dup pair set ----
    //      The oracle extends q37's "LSH = exact with overwhelming
    //      probability" equality one step: a recursive-CTE transitive
    //      closure over the exact all-pairs Jaccard >= 0.8 pair set
    //      recomputes the same min-label components the Spark side
    //      reaches by iterative label propagation.
    ("q57_dedup_clusters", (s: SparkSession, dir: String) => {
      val pairs = Dedup.minhashNearDups(
        Tables(s, dir).documents.filter(col("doc_id") < 500),
        threshold = 0.8, numHashes = 16, bands = 16)
      Dedup.connectedComponents(pairs).orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE ${Dedup.nearDupLabelsSql},
      sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
                FROM labels GROUP BY cluster_id)
      SELECT l.doc_id, l.cluster_id, s.cluster_size,
             l.doc_id = l.cluster_id AS is_representative
      FROM labels l JOIN sizes s USING (cluster_id) ORDER BY l.doc_id""")),

    // ---- sequence packing (global token-stream chunking) ----
    //      The oracle's single SUM() OVER (ORDER BY doc_id) must equal
    //      the Spark side's distributed two-phase prefix sum exactly.
    ("q58_sequence_packing", (s: SparkSession, dir: String) => {
      graft.text.Packing.packOffsets(Tables(s, dir).documents, seqLen = 512)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
        FROM t)
      SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
        CAST(start_offset // 512 AS BIGINT) AS first_seq,
        CAST(CASE WHEN n_tokens = 0 THEN start_offset // 512
                  ELSE (start_offset + n_tokens - 1) // 512 END AS BIGINT) AS last_seq
      FROM c ORDER BY doc_id""")),

    // ---- end-to-end curation pass: quality filter → exact-dedup
    //      representative → stratified sample, composed from the
    //      individually-oracled primitives (q32, q30/q39, q56) into one
    //      declared pipeline — what a user actually runs over a corpus.
    ("q59_curation_pipeline", (s: SparkSession, dir: String) => {
      val quality = Tables(s, dir).documents
        .withColumn("n_words", TextStats.wordCount(col("text")))
        .withColumn("uniq_ratio", TextStats.uniqueWordRatio(col("text")))
        .filter(col("n_words") >= 30 && col("uniq_ratio") >= 0.35)
      val reps = Dedup.exact(quality).select(col("keep_id"))
      val kept = quality.join(reps, quality("doc_id") === reps("keep_id"))
      Sampling.stratifiedSample(kept, strataCol = "lang", keyCol = "doc_id",
          ratesPerMille = Map("en" -> 800), defaultPerMille = 600)
        .select(col("doc_id"), col("lang"), col("source"), col("n_words"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH q AS (
        SELECT doc_id, lang, source, text,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS INTEGER) AS n_words,
               CAST(len(list_distinct(regexp_split_to_array(text, '$ws+'))) AS DOUBLE)
                 / greatest(len(regexp_split_to_array(text, '$ws+')), 1) AS uniq_ratio
        FROM documents),
      f AS (
        SELECT *, ${TextStats.fingerprintSql} AS fp
        FROM q WHERE n_words >= 30 AND uniq_ratio >= 0.35),
      r AS (SELECT fp, MIN(doc_id) AS keep_id FROM f GROUP BY fp)
      SELECT doc_id, lang, source, n_words
      FROM f JOIN r ON f.doc_id = r.keep_id
      WHERE ${Sampling.hashBucketSql} <
        CASE lang WHEN 'en' THEN 800 ELSE 600 END
      ORDER BY doc_id""")),

    // ---- TF-IDF keyword extraction (top-3 terms per document) ----
    //      Both engines order and emit the round-6 snapped score, so a
    //      1-ulp ln() disagreement cannot flip ranks or hashes.
    ("q60_tfidf_terms", (s: SparkSession, dir: String) => {
      graft.text.Relevance.tfIdfTopTerms(Tables(s, dir).documents, k = 3)
        .orderBy(col("doc_id"), col("rn"))
    }, Some(s"""
      WITH tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '$ws+'), x -> x <> '')) AS term
              FROM documents)
        GROUP BY doc_id, term),
      dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '$ws+'), x -> x <> ''))) AS term
              FROM documents)
        GROUP BY term),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 6) AS tfidf
        FROM tf JOIN dfq USING (term) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, term, tf, df, tfidf,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term) AS rn
        FROM scored)
      SELECT doc_id, CAST(rn AS INTEGER) AS rn, term, tf, df, tfidf
      FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""")),

    // ---- BM25 ranking (top-50 docs vs the corpus's top-8-df terms) ----
    //      avgdl is an exact BIGINT sum ÷ count; each (doc, term)
    //      contribution is one mirrored IEEE op chain snapped round-6,
    //      then summed as DECIMAL(25,6) — order-independent, so Spark's
    //      partial aggregation and DuckDB's serial sum agree exactly.
    ("q61_bm25_rank", (s: SparkSession, dir: String) => {
      graft.text.Relevance.bm25TopDocs(Tables(s, dir).documents)
    }, Some(s"""
      WITH ${graft.text.Relevance.bm25StatsSql},
      contrib AS (
        SELECT tf.doc_id, dl.dl,
               ${graft.text.Relevance.bm25TermSql} AS c
        FROM tf JOIN qterms q USING (term)
                JOIN dl ON tf.doc_id = dl.doc_id
                CROSS JOIN stats s)
      SELECT doc_id, MIN(dl) AS dl,
             round(CAST(SUM(CAST(c AS DECIMAL(25,6))) AS DOUBLE), 6) AS bm25
      FROM contrib GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id LIMIT 50""")),

    // ---- query-likelihood retrieval with Dirichlet smoothing (Zhai &
    //      Lafferty 2001): the language-modeling member of the ranking
    //      family — q60's TF-IDF and q61's BM25 score term MATCHES,
    //      the QL model scores the probability the document's language
    //      model GENERATES the query, with the collection model as the
    //      Bayesian prior (μ = 2000, the standard setting, documented):
    //        score(d) = Σ_{t∈Q} ln[(tf + μ·ctf/C) / (dl + μ)]
    //                 = Σ_t [ln9(tf·C + μ·ctf) − ln9(C·(dl + μ))]
    //      — every ln argument an exact integer, so the whole score is
    //      a mirrored integer-nanos sum (the q321/q355 round9ln
    //      convention; no DECIMAL(25,6) float-snap path needed).
    //      Missing terms contribute the prior mass (tf = 0), which is
    //      exactly why QL needs the doc × query-term GRID, not just
    //      the match rows BM25 walks. Query = the corpus's top-8-df
    //      terms (q61's query definition, for side-by-side ranking).
    //      tf·C stays in BIGINT to C ≈ 9e15 corpus tokens (tf ≤ 1e3).
    //
    //      Scale shape: token stats are the q60/q61 aggregates; the
    //      grid is |docs| × 8 (broadcast query), one map-side-combined
    //      sum per doc, top-10 via TakeOrdered.
    ("q357_ql_dirichlet", (s: SparkSession, dir: String) => {
      def ln9(x: String) =
        s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000000, 0) AS BIGINT)"
      val toks = graft.Stage.mat(Tables(s, dir).documents
        .select(col("doc_id"), explode(filter(
          graft.text.TextStats.tokens(lower(col("text"))),
          w => w =!= lit(""))).as("term")))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val ctf = graft.Stage.mat(
        toks.groupBy(col("term")).agg(count(lit(1)).as("ctf")))
      val qterms = toks.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term")).limit(8)
        .join(ctf, Seq("term"))
        .transform(graft.Stage.mat)
      val ctot = ctf.agg(sum(col("ctf")).as("c"))
      dl.crossJoin(broadcast(qterms))
        .join(tf, Seq("doc_id", "term"), "left")
        .crossJoin(broadcast(ctot))
        .selectExpr("doc_id", "dl",
          s"""${ln9("coalesce(tf, 0) * c + 2000 * ctf")}
              - ${ln9("c * (dl + 2000)")} AS t_nanos""")
        .groupBy(col("doc_id"))
        .agg(min(col("dl")).as("dl"), sum(col("t_nanos")).as("score_nanos"))
        .orderBy(col("score_nanos").desc, col("doc_id")).limit(10)
    }, Some(s"""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                                  x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
             FROM toks GROUP BY 1),
      ctf AS (SELECT term, CAST(count(*) AS BIGINT) AS ctf
              FROM toks GROUP BY term),
      dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
      qterms AS (SELECT dfq.term, ctf.ctf FROM dfq JOIN ctf USING (term)
                 ORDER BY df DESC, dfq.term LIMIT 8),
      ctot AS (SELECT CAST(SUM(ctf) AS BIGINT) AS c FROM ctf),
      grid AS (
        SELECT dl.doc_id, dl.dl,
               CAST(round(ln(CAST(COALESCE(tf.tf, 0) * c + 2000 * q.ctf
                 AS DOUBLE)) * 1000000000, 0) AS BIGINT)
               - CAST(round(ln(CAST(c * (dl.dl + 2000) AS DOUBLE))
                 * 1000000000, 0) AS BIGINT) AS t_nanos
        FROM dl CROSS JOIN qterms q
        LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = q.term
        CROSS JOIN ctot)
      SELECT doc_id, CAST(MIN(dl) AS BIGINT) AS dl,
             CAST(SUM(t_nanos) AS BIGINT) AS score_nanos
      FROM grid GROUP BY doc_id
      ORDER BY score_nanos DESC, doc_id LIMIT 10""")),

    // ---- Token-window chunking (size 32, overlap 8 → stride 24) ----
    //      Pure generator over the token array — no shuffle; oracle
    //      mirrors it with range(0, n, 24) + 1-based list slices.
    ("q62_chunking", (s: SparkSession, dir: String) => {
      graft.text.Chunking.chunkTokens(Tables(s, dir).documents, chunkSize = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '$ws+'),
                              x -> x <> '') AS toks
                 FROM documents),
      c AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS st FROM t)
      SELECT doc_id,
             CAST(st // 24 AS INTEGER) AS chunk_idx,
             CAST(st AS INTEGER) AS start_tok,
             CAST(len(toks[st + 1 : st + 32]) AS INTEGER) AS n_tok,
             array_to_string(toks[st + 1 : st + 32], ' ') AS chunk_text
      FROM c ORDER BY doc_id, chunk_idx""")),

    // ---- Temperature-scaled domain mixture (T = 2, by lang) ----
    //      rate_d = (c_d / c_min)^(1/T − 1): count-relative, no
    //      cross-domain float sum, snapped round-6 and applied in
    //      parts-per-million over the portable hash bucket.
    ("q63_temperature_mix", (s: SparkSession, dir: String) => {
      Sampling.temperatureResample(Tables(s, dir).documents)
        .select(col("doc_id"), col("lang"), col("c_dom"), col("keep_ppm"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c_dom
                 FROM documents GROUP BY lang),
      m AS (SELECT MIN(c_dom) AS c_min FROM c),
      r AS (SELECT lang, c_dom,
              CAST(round(round(pow(CAST(c_dom AS DOUBLE) / CAST(m.c_min AS DOUBLE),
                     -0.5), 6) * 1000000.0, 0) AS BIGINT) AS keep_ppm
            FROM c CROSS JOIN m)
      SELECT d.doc_id, d.lang, r.c_dom, r.keep_ppm
      FROM documents d JOIN r USING (lang)
      WHERE ${Sampling.hashBucketNSql("d.doc_id", "temp")} < r.keep_ppm
      ORDER BY d.doc_id""")),

    // ---- k-means clustering (k = 4, two Lloyd iterations) ----
    //      Hash-seeded init, round-6 snapped cosine argmax with
    //      smaller-cid tie-break, DECIMAL(25,6)-exact centroid means —
    //      every step engine-portable, so DuckDB replays the whole
    //      clustering bit-for-bit (a value-level oracle for an operator
    //      that is usually "trust me").
    ("q64_kmeans", (s: SparkSession, dir: String) => {
      val emb = Tables(s, dir).embeddings
      // k from the shared cell-count contract (Similarity.cellCountFor,
      // VERDICT r8 ask #1): the fixture resolves to the historical k = 4;
      // a bigger corpus gets k ∝ n so downstream cell-bounded consumers
      // keep constant expected cell size. The oracle's kp CTE derives the
      // identical k via cellCountSql.
      val k = graft.text.Similarity.cellCountFor(emb.count())
      // fit from the per-corpus memo (Similarity.kmeansFitMemo, round
      // 13); the assignment projection below is the query's own pass
      graft.text.Similarity.kmeansAssignWith(
          graft.text.Similarity.kmeansFitMemo(s, dir, k, 64), emb)
        .drop("v")
        .orderBy(col("vec_id"))
    }, Some(s"""
      WITH ${graft.text.Similarity.kmeansAssignSql}
      SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id, cos_r
      FROM a2 WHERE rn = 1 ORDER BY vec_id""")),

    // ---- Bigram-LM perplexity (corpus-trained add-1 quality filter) ----
    //      Integer counts, round-6 snapped per-bigram logprob, decimal-
    //      exact per-doc sum — train and score replayed whole by DuckDB.
    ("q65_bigram_ppl", (s: SparkSession, dir: String) => {
      graft.text.LangModel.bigramPerplexity(Tables(s, dir).documents)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${graft.text.LangModel.bigramCountsSql},
      bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
             FROM inst GROUP BY w1, w2),
      sc AS (SELECT inst.doc_id,
               round(ln((CAST(bc.c2 AS DOUBLE) + 1.0)
                 / (CAST(uni.c1 AS DOUBLE) + CAST(vv.v AS DOUBLE))), 6) AS lp
             FROM inst JOIN bc USING (w1, w2)
                       JOIN uni ON inst.w1 = uni.w
                       CROSS JOIN vocab vv)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             round(CAST(SUM(CAST(lp AS DECIMAL(25,6))) AS DOUBLE), 6) AS logprob,
             round(exp(CAST(SUM(CAST(lp AS DECIMAL(25,6))) AS DOUBLE) * -1.0
               / CAST(COUNT(*) AS DOUBLE)), 6) AS ppl
      FROM sc GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Duplicated-span coverage (8-gram exact-substring signal) ----
    //      Spans shared by >= 2 docs, union-counted per document over
    //      the portable shingle hash.
    ("q66_dup_spans", (s: SparkSession, dir: String) => {
      graft.text.Dedup.dupSpanCoverage(Tables(s, dir).documents)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${TextStats.docTokensSql},
      tt AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
             FROM t WHERE len(toks) >= 8),
      sh AS (SELECT doc_id, i,
               ${TextStats.portableHash64Sql("array_to_string(toks[i : i + 7], ' ')")} AS h
             FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM tt)),
      dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      mk AS (SELECT sh.doc_id, sh.i FROM sh JOIN dup USING (h)),
      pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_shingles
             FROM mk GROUP BY doc_id),
      cv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS covered_tokens
             FROM (SELECT DISTINCT * FROM
                    (SELECT doc_id, unnest(range(i, i + 8)) AS pos FROM mk))
             GROUP BY doc_id)
      SELECT tt.doc_id, tt.n_tokens,
             coalesce(pd.n_dup_shingles, 0) AS n_dup_shingles,
             coalesce(cv.covered_tokens, 0) AS covered_tokens,
             round(CAST(coalesce(cv.covered_tokens, 0) AS DOUBLE)
               / CAST(tt.n_tokens AS DOUBLE), 6) AS dup_coverage
      FROM tt LEFT JOIN pd USING (doc_id) LEFT JOIN cv USING (doc_id)
      ORDER BY tt.doc_id""")),

    // ---- Int8 embedding quantization + reconstruction-error audit ----
    ("q67_quantize_int8", (s: SparkSession, dir: String) => {
      graft.text.Similarity.quantizeInt8(Tables(s, dir).embeddings, dim = 64)
        .orderBy(col("vec_id"))
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      a AS (SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
      s AS (SELECT vec_id, v,
              amax > 0.0 AND NOT isnan(amax) AS quantizable,
              CASE WHEN amax > 0.0 AND NOT isnan(amax)
                   THEN 127.0 / amax END AS scale
            FROM a),
      q AS (SELECT vec_id, v, quantizable, scale,
              CASE WHEN quantizable THEN list_transform(v, x ->
                greatest(-127, least(127, CAST(round(x * scale, 0) AS INTEGER))))
              ELSE list_transform(v, x -> 0) END AS qv
            FROM s),
      r AS (SELECT vec_id, quantizable, scale, qv,
              CASE WHEN quantizable THEN list_transform(range(1, len(v) + 1), i ->
                CAST(list_extract(qv, i) AS DOUBLE) / scale - list_extract(v, i)) END AS err
            FROM q)
      SELECT vec_id,
             array_to_string(qv, ',') AS q_str,
             round(scale, 6) AS scale_r,
             CASE WHEN quantizable
                  THEN round(list_max(list_transform(err, x -> abs(x))), 6) END AS max_abs_err,
             CASE WHEN quantizable
                  THEN round(CAST(list_sum(list_transform(err, x ->
                      CAST(round(round(x * x, 6) * 1000000.0, 0) AS BIGINT))) AS DOUBLE)
                    / 1000000.0 / 64.0, 6) END AS mse,
             quantizable
      FROM r ORDER BY vec_id""")),

    // ---- Corpus report card (per lang × source health summary) ----
    //      Every rate derives from integer counts (tokens, chars,
    //      quality passes, distinct fingerprints) except mean
    //      uniq-ratio, which sums round-6 DECIMAL(25,6) addends — all
    //      single-shuffle, map-side-combined, oracle-exact.
    ("q68_corpus_report", (s: SparkSession, dir: String) => {
      Tables(s, dir).documents
        .withColumn("n_words", TextStats.wordCount(col("text")).cast("long"))
        .withColumn("uniq_ratio", TextStats.uniqueWordRatio(col("text")))
        .withColumn("fp", TextStats.fingerprint(col("text")))
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          sum(when(col("n_words") >= 30 && col("uniq_ratio") >= 0.35, 1L)
            .otherwise(0L)).as("n_pass"),
          countDistinct(col("fp")).as("n_uniq"),
          // exact integer micros: the mean divides in the integer domain
          // below, so no engine ever rounds a floating half (a round-6
          // mean hit exactly .5 micros at sf0.001 — Spark rounds half
          // up, DuckDB half-even)
          sum(round(round(col("uniq_ratio"), 6) * 1000000.0, 0).cast("long"))
            .as("ur_micros"))
        .select(col("lang"), col("source"), col("n_docs"),
          col("total_tokens"), col("total_chars"),
          round(col("total_tokens").cast("double") / col("n_docs").cast("double"), 6)
            .as("mean_tokens"),
          round(col("n_pass").cast("double") / col("n_docs").cast("double"), 6)
            .as("quality_pass_rate"),
          round((col("n_docs") - col("n_uniq")).cast("double")
            / col("n_docs").cast("double"), 6).as("exact_dup_rate"),
          (expr("ur_micros DIV n_docs").cast("double") / 1000000.0)
            .as("mean_uniq_ratio"))
        .orderBy(col("lang"), col("source"))
    }, Some(s"""
      WITH d AS (
        SELECT lang, source, n_chars,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS n_words,
               CAST(len(list_distinct(regexp_split_to_array(text, '$ws+'))) AS DOUBLE)
                 / greatest(len(regexp_split_to_array(text, '$ws+')), 1) AS uniq_ratio,
               ${TextStats.fingerprintSql} AS fp
        FROM documents),
      g AS (
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(CASE WHEN n_words >= 30 AND uniq_ratio >= 0.35
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_uniq,
               CAST(SUM(CAST(round(round(uniq_ratio, 6) * 1000000.0, 0) AS BIGINT))
                 AS BIGINT) AS ur_micros
        FROM d GROUP BY lang, source)
      SELECT lang, source, n_docs, total_tokens, total_chars,
             round(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_tokens,
             round(CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS quality_pass_rate,
             round(CAST(n_docs - n_uniq AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS exact_dup_rate,
             CAST(ur_micros // n_docs AS DOUBLE) / 1000000.0 AS mean_uniq_ratio
      FROM g ORDER BY lang, source""")),

    // ---- line-level dedup (CCNet/Dolma boilerplate removal, VERDICT
    //      r5 #2 — the last shipped operator without a CORRECTNESS
    //      entry). Drops every line whose trimmed form occurs more than
    //      once across the corpus, preserving in-document line order.
    //      The fixture corpus is word salad with few natural line
    //      repeats, so a per-source boilerplate header is prepended
    //      (same construction trick as q54's synthetic PII): all docs
    //      from one source then share a header line, which the operator
    //      must remove while the body survives. The operator keys on
    //      xxhash64(trim(line)) but its OUTPUT depends only on hash
    //      EQUALITY, never hash values (the q53 argument), so the scale
    //      default stays and the oracle groups trimmed line STRINGS
    //      directly. Docs whose every line is boilerplate come back
    //      with empty text (surgery ops never lose rows — r6b).
    ("q70_line_dedup", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents
        .withColumn("text",
          concat(lit("== "), col("source"), lit(" boilerplate ==\n"), col("text")))
      Dedup.lineLevelDedup(docs)
        .orderBy(col("doc_id"))
    }, Some("""
      WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(concat('== ', source, ' boilerplate ==', chr(10), text),
                                     '\n') AS ls
        FROM documents),
      ln AS (
        SELECT doc_id, unnest(ls) AS line, unnest(range(len(ls))) AS pos FROM t),
      freq AS (
        SELECT trim(line) AS tl FROM ln GROUP BY 1 HAVING COUNT(*) > 1),
      kept AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS kt
        FROM ln
        WHERE NOT EXISTS (SELECT 1 FROM freq WHERE freq.tl = trim(ln.line))
        GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(kept.kt, '') AS text
      FROM documents d LEFT JOIN kept ON d.doc_id = kept.doc_id
      ORDER BY d.doc_id""")),

    // ---- BPE pair-frequency table (tokenizer-training prep): the
    //      corpus-wide adjacent-pair counts over the BPE-ish
    //      pre-tokenization — the statistic the first BPE merge
    //      selection maximizes. Top 50 with a (count desc, pair) total
    //      order so the rank cut is engine-portable; ASCII-only corpus
    //      keeps string collation identical on both engines.
    ("q71_bpe_pairs", (s: SparkSession, dir: String) => {
      graft.text.Vocab.bpePairCounts(Tables(s, dir).documents)
        .orderBy(col("n_pairs").desc, col("tok_a"), col("tok_b"))
        .limit(50)
    }, Some(s"""
      WITH t AS (
        SELECT regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9${TextStats.wsCharsSql}]') AS toks
        FROM documents),
      p AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                 i -> struct_pack(a := toks[i], b := toks[i + 1]))) AS pr
        FROM t WHERE len(toks) >= 2)
      SELECT pr.a AS tok_a, pr.b AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM p GROUP BY 1, 2
      ORDER BY n_pairs DESC, tok_a, tok_b LIMIT 50""")),

    // ---- BPE merge LEARNING (the full tokenizer-training loop, not
    //      just q71's first-merge statistic): 6 iterations of
    //      pick-most-frequent-adjacent-pair → fuse-everywhere over the
    //      character-spaced word histogram, weighted by word counts.
    //      Deterministic (count desc, then pair) argmax; merge
    //      application is a sentinel-padded literal replace with
    //      identical left-to-right non-overlap semantics in both
    //      engines (greedy BPE). The oracle unrolls all 6 iterations —
    //      histogram, pair stats, argmax, rewrite — token-for-token.
    //      Scale: iterations run on the vocab-sized histogram, never
    //      the corpus (see Vocab.bpeLearnMerges scaladoc).
    ("q129_bpe_learn", (s: SparkSession, dir: String) => {
      graft.text.Vocab.bpeLearnMerges(Tables(s, dir).documents, nMerges = 6)
        .orderBy(col("merge_rank"))
    }, Some(graft.text.Vocab.bpeLearnSql)),

    // ---- BPE ENCODE (the deployment half of q129): apply the 6
    //      learned merges in rank order to the vocabulary, then count
    //      sub-word tokens per document (word-keyed join + sum) and
    //      emit the chars-per-token compression micros. Merges touch
    //      only the vocab histogram — the corpus is never rewritten —
    //      and the oracle replays learn AND encode token-for-token.
    ("q139_bpe_encode", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents
      val enc = graft.text.Vocab.bpeEncodeWordTokens(docs, nMerges = 6)
      val dw = docs.select(col("doc_id"),
        explode(filter(TextStats.tokens(lower(col("text"))), x => x =!= lit(""))).as("word"))
      val ag = dw.join(enc, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n_tok")).as("n_bpe_tokens"), count(lit(1)).as("n_words"),
          sum(length(col("word")).cast("long")).as("n_word_chars"))
      docs.select(col("doc_id")).join(ag, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "coalesce(n_bpe_tokens, 0L) AS n_bpe_tokens",
          "coalesce(n_words, 0L) AS n_words",
          """CAST((coalesce(n_word_chars, 0L) * 1000000)
              DIV greatest(coalesce(n_bpe_tokens, 0L), 1) AS BIGINT)
             AS chars_per_token_micros""")
        .orderBy(col("doc_id"))
    }, Some(graft.text.Vocab.bpeEncodeSql)),

    // ---- interpolated Kneser-Ney bigram table (the production
    //      quality-LM smoothing; q65's add-1 is the baseline): exact
    //      integer-nanos probabilities — discount, continuation
    //      back-off, and both floored divisions replayed verbatim by
    //      the oracle on widened integers, no logs or doubles anywhere.
    //      Top-50 by (count desc, bigram) for a deterministic cut.
    ("q134_kneser_ney", (s: SparkSession, dir: String) => {
      graft.text.LangModel.kneserNeyTop(Tables(s, dir).documents, topK = 50)
    }, Some(s"""
      WITH ${TextStats.docTokensSql},
      bi AS (SELECT unnest(list_transform(range(1, len(toks)),
               i -> [toks[i], toks[i + 1]])) AS pr
             FROM t WHERE len(toks) >= 2),
      c2 AS (SELECT pr[1] AS w1, pr[2] AS w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
      ctx AS (SELECT w1, SUM(c2) AS ctx FROM c2 GROUP BY w1),
      n1f AS (SELECT w1, count(*) AS n1f FROM c2 GROUP BY w1),
      n1p AS (SELECT w2, count(*) AS n1p FROM c2 GROUP BY w2),
      nbi AS (SELECT count(*) AS nb FROM c2)
      SELECT c2.w1, c2.w2, CAST(c2.c2 AS BIGINT) AS c2,
             CAST((GREATEST(CAST(c2.c2 AS HUGEINT) * 1000000 - 750000, 0) * 1000) // ctx.ctx
                  + (((CAST(750000 AS HUGEINT) * n1f.n1f * 1000) // ctx.ctx)
                     * n1p.n1p) // nbi.nb AS BIGINT) AS p_kn_nanos
      FROM c2 JOIN ctx USING (w1) JOIN n1f USING (w1) JOIN n1p USING (w2)
      CROSS JOIN nbi
      ORDER BY c2 DESC, w1, w2 LIMIT 50""")),

    // ---- source-concentration report (Gini + HHI over the per-source
    //      doc distribution): the diagnostic that catches a crawl
    //      collapsing onto few domains before it skews training. Exact
    //      integer arithmetic: Gini via the rank identity
    //      Σ(2i−n−1)c_i = 2Σi·c_i − (n+1)T computed in DECIMAL(38,0)
    //      (both Σ terms grow with corpus²), HHI as Σc²·1e6 div T²;
    //      floor division on provably-nonneg numerators is identical in
    //      both engines. The rank window is global but runs on the
    //      SOURCE-count table — domain-cardinality-sized, never the
    //      corpus (the quality-deciles justification); Gini is
    //      invariant to rank order within tied counts, so the
    //      (count, source) tie-break is for determinism only.
    ("q131_source_concentration", (s: SparkSession, dir: String) => {
      val D = org.apache.spark.sql.types.DecimalType(38, 0)
      val c = Tables(s, dir).documents
        .groupBy(col("source")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").asc, col("source").asc)
      val agg = c.withColumn("i", row_number().over(w))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("t"),
          sum(col("i").cast(D) * col("c")).as("a"),
          sum(col("c").cast(D) * col("c")).as("sq"))
      agg.select(col("n").as("n_sources"),
        call_function("div",
          (lit(2).cast(D) * col("a") - (col("n").cast(D) + 1) * col("t")) * 1000000,
          col("n").cast(D) * col("t")).as("gini_m"),
        call_function("div", col("sq") * 1000000,
          col("t").cast(D) * col("t")).as("hhi_m"))
    }, Some("""
      WITH c AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
      r AS (SELECT c, source, row_number() OVER (ORDER BY c, source) AS i FROM c),
      a AS (SELECT count(*) AS n, SUM(c) AS t,
                   SUM(CAST(i AS HUGEINT) * c) AS a,
                   SUM(CAST(c AS HUGEINT) * c) AS sq FROM r)
      SELECT CAST(n AS BIGINT) AS n_sources,
             CAST((2*a - (CAST(n AS HUGEINT) + 1) * t) * 1000000
                  // (CAST(n AS HUGEINT) * t) AS BIGINT) AS gini_m,
             CAST(sq * 1000000 // (CAST(t AS HUGEINT) * t) AS BIGINT) AS hhi_m
      FROM a""")),

    // ---- vocabulary build + per-doc OOV rate: top-1000 corpus words as
    //      the vocab (count desc, word — deterministic cut), then each
    //      document's out-of-vocabulary token share against it. Docs
    //      with zero tokens contribute no row on either engine.
    ("q72_oov_stats", (s: SparkSession, dir: String) => {
      graft.text.Vocab.oovStats(Tables(s, dir).documents, vocabSize = 1000)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH w AS (
        SELECT doc_id, unnest(list_filter(
                 regexp_split_to_array(lower(text), '$ws+'), x -> x <> '')) AS word
        FROM documents),
      vocab AS (
        SELECT word FROM w GROUP BY word
        ORDER BY COUNT(*) DESC, word LIMIT 1000),
      g AS (
        SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        FROM w LEFT JOIN vocab v ON w.word = v.word
        GROUP BY w.doc_id)
      SELECT doc_id, n_tokens, n_oov,
             round(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS oov_ratio
      FROM g ORDER BY doc_id""")),

    // ---- cross-source duplication matrix: distinct shared normalized
    //      fingerprints per source pair + fingerprint-level Jaccard —
    //      which feeds mirror which. The fingerprint is the portable
    //      md5-60-bit key (q39), so the oracle recomputes it verbatim.
    //      The fixture corpus has no natural cross-source duplicates
    //      (q30 proves all 500 contents distinct), so every 10th doc is
    //      mirrored into a synthetic "mirror_<source>" feed — the same
    //      constructed-payload trick as q54 — giving the matrix real
    //      nonzero overlaps to verify.
    ("q73_source_overlap", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents
      val mirrored = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("source", concat(lit("mirror_"), col("source")))
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.crossSourceDuplication(docs.unionByName(mirrored))
        .orderBy(col("source_a"), col("source_b"))
    }, Some(s"""
      WITH all_docs AS (
        SELECT source, text FROM documents
        UNION ALL
        SELECT concat('mirror_', source) AS source, text
        FROM documents WHERE doc_id % 10 = 0),
      fp AS (
        SELECT DISTINCT
          ${TextStats.fingerprintSql} AS fp,
          source AS src
        FROM all_docs),
      per AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM fp GROUP BY src),
      shared AS (
        SELECT a.src AS source_a, b.src AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.src < b.src
        GROUP BY 1, 2)
      SELECT source_a, source_b, n_shared, pa.n AS n_a, pb.n AS n_b,
             round(CAST(n_shared AS DOUBLE) / CAST(pa.n + pb.n - n_shared AS DOUBLE), 6) AS fp_jaccard
      FROM shared
      JOIN per pa ON pa.src = source_a
      JOIN per pb ON pb.src = source_b
      ORDER BY source_a, source_b""")),

    // ---- embedding-space outlier scoring: cosine to the corpus
    //      centroid (per-dim DECIMAL-exact round-6 mean — the q64
    //      discipline, so the centroid is bit-identical on both
    //      engines). iid-random fixture vectors scatter around cos ≈ 0
    //      to their own mean, so threshold 0 yields a real nonempty
    //      outlier set on both sides.
    // ---- SemDeDup: k-means clusters + within-cluster greedy cosine
    //      pruning. The oracle replays q64's two Lloyd iterations
    //      verbatim (same seeds, same DECIMAL-exact centroid update,
    //      same round-6 argmax), then the within-cluster pairwise pass
    //      with the same round-6 snap before the tau comparison — the
    //      whole keep/drop decision is recomputed end-to-end by DuckDB.
    ("q75_semdedup", (s: SparkSession, dir: String) => {
      val emb = Tables(s, dir).embeddings
      // within-cluster pairwise pass ⇒ k rides the cell-count contract
      // and the budget guard runs at the point the quadratic stage is
      // declared (Similarity.cellCountFor/requireCellBounded, r8 ask #1)
      val n = emb.count()
      val k = graft.text.Similarity.cellCountFor(n)
      graft.text.Similarity.requireCellBounded(n, k)
      graft.text.Similarity.semDedup(emb, k = k, dim = 64, tau = 0.35,
          fit = Some(graft.text.Similarity.kmeansFitMemo(s, dir, k, 64)))
        .orderBy(col("vec_id"))
    }, Some(s"""
      WITH ${graft.text.Similarity.kmeansFitSql},
      a2 AS (SELECT vec_id, v, cid, cos_r,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, cid) AS rn
             FROM (SELECT e.vec_id, e.v, c.cid,
                     round(list_cosine_similarity(e.v, c.cv), 6) AS cos_r
                   FROM e CROSS JOIN c2 c)),
      m2 AS (SELECT vec_id, v, cid FROM a2 WHERE rn = 1),
      p AS (SELECT x.vec_id AS vid, CAST(COUNT(*) AS BIGINT) AS n_similar_smaller,
              MAX(round(list_cosine_similarity(x.v, y.v), 6)) AS max_sim_r
            FROM m2 x JOIN m2 y ON x.cid = y.cid AND y.vec_id < x.vec_id
            WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.35
            GROUP BY x.vec_id)
      SELECT m.vec_id, CAST(m.cid AS INTEGER) AS centroid_id,
             coalesce(p.n_similar_smaller, 0) AS n_similar_smaller,
             p.max_sim_r,
             p.vid IS NULL AS is_kept
      FROM m2 m LEFT JOIN p ON m.vec_id = p.vid ORDER BY m.vec_id""")),

    // ---- Gopher quality rule set over the constructed multi-line
    //      payload (the q54 trick: the word-salad fixture has no lines,
    //      bullets, symbols, or most stopwords, so deterministic
    //      payload lines — built identically on both engines — give
    //      every rule a real pass/fail split).
    ("q76_gopher_rules", (s: SparkSession, dir: String) => {
      graft.text.Quality.gopherQuality(
          Tables(s, dir).documents.withColumn("text", ruleLinesText))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH p AS (SELECT doc_id, $ruleLinesTextSql AS pt FROM documents),
      $gopherSgSql
      SELECT doc_id, n_words, mean_word_len_r, frac_alpha_r, n_stop_hits,
             symbol_ratio_r, frac_bullet_r, frac_ellipsis_r,
             (n_words BETWEEN 50 AND 100000) AS pass_words,
             (mean_word_len_r >= 3.0 AND mean_word_len_r <= 10.0) AS pass_mean_wl,
             (symbol_ratio_r < 0.1) AS pass_symbol,
             (frac_bullet_r < 0.9) AS pass_bullet,
             (frac_ellipsis_r < 0.3) AS pass_ellipsis,
             (frac_alpha_r >= 0.8) AS pass_alpha,
             (n_stop_hits >= 2) AS pass_stopwords,
             ($gopherKeepSql) AS keep
      FROM sg ORDER BY doc_id""")),

    // ---- C4 cleaning pass over the same constructed payload: per-line
    //      terminal-punctuation / length / javascript predicates, doc
    //      lorem-ipsum + brace flags, >= 3 surviving lines.
    ("q77_c4_filters", (s: SparkSession, dir: String) => {
      graft.text.Quality.c4Clean(
          Tables(s, dir).documents.withColumn("text", ruleLinesText))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH p AS (SELECT doc_id, $ruleLinesTextSql AS pt FROM documents),
      t AS (SELECT doc_id, pt, regexp_split_to_array(pt, '\n') AS ls FROM p),
      k AS (SELECT doc_id, pt, ls, $c4KeptSql AS kept
            FROM t)
      SELECT doc_id,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept,
             array_to_string(kept, chr(10)) AS text_clean,
             contains(lower(pt), 'lorem ipsum') AS has_lorem,
             contains(pt, '{') AS has_brace,
             (len(kept) >= 3 AND NOT contains(lower(pt), 'lorem ipsum')
               AND NOT contains(pt, '{')) AS keep_doc
      FROM k ORDER BY doc_id""")),

    // ---- Hybrid retrieval: BM25 (q61's oracle CTE verbatim) fused
    //      with the dense cosine ranking by reciprocal rank fusion.
    ("q78_hybrid_rrf", (s: SparkSession, dir: String) => {
      val t = Tables(s, dir)
      graft.text.Relevance.hybridRrf(t.documents, t.embeddings)
    }, Some(s"""
      WITH ${graft.text.Relevance.bm25StatsSql},
      contrib AS (
        SELECT tf.doc_id,
               ${graft.text.Relevance.bm25TermSql} AS c
        FROM tf JOIN qterms q USING (term)
                JOIN dl ON tf.doc_id = dl.doc_id
                CROSS JOIN stats s),
      bm AS (SELECT doc_id,
               round(CAST(SUM(CAST(c AS DECIMAL(25,6))) AS DOUBLE), 6) AS bm25
             FROM contrib GROUP BY doc_id
             ORDER BY bm25 DESC, doc_id LIMIT 50),
      lex AS (SELECT doc_id,
                CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
              FROM bm),
      dn AS (SELECT vec_id AS doc_id,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)),
                 6) AS cos_r
             FROM embeddings WHERE vec_id <> 0
             ORDER BY cos_r DESC, doc_id LIMIT 50),
      dr AS (SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos_r DESC, doc_id) AS BIGINT) AS dense_rank
             FROM dn),
      f AS (SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank
            FROM lex l FULL OUTER JOIN dr d ON l.doc_id = d.doc_id)
      SELECT doc_id, lex_rank, dense_rank,
             round(coalesce(CAST(1 AS DOUBLE) / (60 + lex_rank), 0.0)
                   + coalesce(CAST(1 AS DOUBLE) / (60 + dense_rank), 0.0), 9) AS rrf_r
      FROM f ORDER BY rrf_r DESC, doc_id LIMIT 20""")),

    // ---- n-gram novelty vs earlier documents (the q66 shingle CTE
    //      with a min-doc_id first-occurrence join).
    ("q79_ngram_novelty", (s: SparkSession, dir: String) => {
      graft.text.Dedup.ngramNovelty(Tables(s, dir).documents, n = 8)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${TextStats.docTokensSql},
      tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
      sh AS (SELECT DISTINCT doc_id,
               ${TextStats.portableHash64Sql("array_to_string(toks[i : i + 7], ' ')")} AS h
             FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM tt)),
      f AS (SELECT h, MIN(doc_id) AS first_doc FROM sh GROUP BY h)
      SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             round(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_r
      FROM sh JOIN f USING (h)
      GROUP BY sh.doc_id ORDER BY sh.doc_id""")),

    // ---- Zipf rank-frequency fit (corpus-health statistic): top-100
    //      vocabulary, least-squares slope/intercept of log-freq vs
    //      log-rank with DECIMAL-exact regression sums.
    ("q80_zipf_slope", (s: SparkSession, dir: String) => {
      graft.text.Vocab.zipfSlope(Tables(s, dir).documents)
    }, Some(s"""
      WITH w AS (SELECT unnest(list_filter(
                   regexp_split_to_array(lower(text), '$ws+'), x -> x <> '')) AS word
                 FROM documents),
      cnt AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w
              GROUP BY word ORDER BY n DESC, word LIMIT 100),
      pts AS (SELECT
                round(ln(CAST(row_number() OVER (ORDER BY n DESC, word) AS DOUBLE)), 6) AS x,
                round(ln(CAST(n AS DOUBLE)), 6) AS y
              FROM cnt),
      a AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sxx
            FROM pts)
      SELECT CAST(n AS BIGINT) AS n_terms,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_r,
             round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept_r
      FROM a""")),

    // ---- sequence-length histogram (packing/truncation planning): doc
    //      counts per 16-token bucket with the cumulative share — the
    //      statistic that picks max_seq_len and predicts packing waste
    //      before a training run. One corpus pass → bucket-count agg;
    //      the windows run over the bucket table (dozens of rows), never
    //      the corpus.
    ("q83_length_histogram", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val nTok = size(filter(TextStats.tokens(lower(col("text"))), x => x =!= ""))
      val g = Tables(s, dir).documents
        .select(((nTok.cast("long") / lit(16L)).cast("long") * 16).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      g.select(col("bucket"), col("n_docs"),
          sum(col("n_docs")).over(Window.orderBy(col("bucket"))).as("cum_docs"),
          round(sum(col("n_docs")).over(Window.orderBy(col("bucket"))).cast("double") /
            sum(col("n_docs")).over(Window.partitionBy()).cast("double"), 6).as("cum_share"))
        .orderBy(col("bucket"))
    }, Some(s"""
      WITH b AS (
        SELECT CAST((len(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                 x -> x <> '')) // 16) * 16 AS BIGINT) AS bucket
        FROM documents),
      g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs FROM b GROUP BY bucket)
      SELECT bucket, n_docs,
             CAST(SUM(n_docs) OVER (ORDER BY bucket) AS BIGINT) AS cum_docs,
             round(CAST(SUM(n_docs) OVER (ORDER BY bucket) AS DOUBLE)
                   / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS cum_share
      FROM g ORDER BY bucket""")),

    // ---- duplicated-span TRIM (q66's surgery counterpart): remove the
    //      tokens covered by cross-document 8-grams, reassemble the
    //      rest. Same shingle CTE as q66; the oracle materializes the
    //      covered position set and anti-joins the token table — the
    //      literal definition the Spark side implements distributively.
    ("q85_dup_span_trim", (s: SparkSession, dir: String) => {
      graft.text.Dedup.dupSpanTrim(Tables(s, dir).documents, n = 8)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '$ws+'), x -> x <> '') AS otoks,
                   list_filter(regexp_split_to_array(lower(text), '$ws+'),
                     x -> x <> '') AS toks
                 FROM documents),
      tt AS (SELECT doc_id, otoks, toks, CAST(len(toks) AS BIGINT) AS n_tokens
             FROM t),
      sh AS (SELECT doc_id, i,
               ${TextStats.portableHash64Sql("array_to_string(toks[i : i + 7], ' ')")} AS h
             FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM tt)),
      dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      mk AS (SELECT sh.doc_id, sh.i FROM sh JOIN dup USING (h)),
      cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS pos FROM mk),
      tp AS (SELECT doc_id, unnest(otoks) AS tok,
               unnest(range(1, len(otoks) + 1)) AS pos FROM tt),
      kept AS (SELECT tp.doc_id, tp.tok, tp.pos FROM tp
               WHERE NOT EXISTS (SELECT 1 FROM cov
                 WHERE cov.doc_id = tp.doc_id AND cov.pos = tp.pos)),
      ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS text_trimmed
             FROM kept GROUP BY doc_id)
      SELECT tt.doc_id, tt.n_tokens,
             coalesce(ag.n_kept, 0) AS n_kept,
             tt.n_tokens - coalesce(ag.n_kept, 0) AS n_removed,
             coalesce(ag.text_trimmed, '') AS text_trimmed
      FROM tt LEFT JOIN ag USING (doc_id) ORDER BY tt.doc_id""")),

    // ---- deterministic training-order shuffle: the decomposed range-
    //      bucketed global rank must equal the oracle's serial
    //      row_number over the same portable key (the q58 "decomposition
    //      == serial spec" proof, applied to a global permutation).
    ("q86_training_order", (s: SparkSession, dir: String) => {
      graft.text.Packing.trainingOrder(Tables(s, dir).documents)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id,
               ${TextStats.portableHash64Sql("concat('shuffle:', CAST(doc_id AS VARCHAR))")} AS k
             FROM documents)
      SELECT doc_id, k AS shuffle_key,
             CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS pos
      FROM t ORDER BY doc_id""")),

    // ---- character-level Shannon entropy (garbage detector): per-term
    //      integer-nanos snap makes the sum order-independent — the two
    //      engines enumerate distinct characters in different orders.
    ("q87_char_entropy", (s: SparkSession, dir: String) => {
      Tables(s, dir).documents
        .select(col("doc_id"),
          TextStats.distinctChars(col("text")).as("n_distinct_chars"),
          TextStats.charEntropy(col("text")).as("entropy_r"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH c AS (SELECT doc_id,
                   list_filter(regexp_split_to_array(text, ''), x -> x <> '') AS cs
                 FROM documents),
      d AS (SELECT doc_id, cs, list_distinct(cs) AS dc FROM c)
      SELECT doc_id,
             CAST(len(dc) AS BIGINT) AS n_distinct_chars,
             -- COALESCE: list_sum of an empty list is NULL, but the
             -- native expression returns entropy 0 for empty text —
             -- mirror that (latent parity gap flagged in review r6b;
             -- the fixture has no empty docs, but the contract should
             -- not depend on that)
             round(CAST(-COALESCE(list_sum(list_transform(dc, ch ->
                     CAST(round(round((CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)
                                      / len(cs))
                                     * ln(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)
                                          / len(cs)), 9) * 1000000000.0, 0) AS BIGINT))), 0)
                   AS DOUBLE) / 1000000000.0, 6) AS entropy_r
      FROM d ORDER BY doc_id""")),

    // ---- per-domain contribution cap: at most k docs per source by
    //      portable-hash order (deterministic random-without-replacement
    //      draw, resumable and oracle-replayable).
    ("q88_domain_cap", (s: SparkSession, dir: String) => {
      Sampling.perGroupCap(Tables(s, dir).documents, k = 10)
        .select(col("doc_id"), col("source"), col("cap_rank"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      SELECT doc_id, source, cap_rank FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT)
                 AS cap_rank
        FROM (SELECT doc_id, source,
                ${TextStats.portableHash64Sql("concat('cap:', CAST(doc_id AS VARCHAR))")} AS h
              FROM documents))
      WHERE cap_rank <= 10 ORDER BY doc_id""")),

    // ---- end-to-end round-6 curation pipeline: Gopher rules → C4
    //      cleaning verdict → per-domain cap → deterministic training
    //      order. Every stage is an oracled primitive (q76/q77/q88/q86)
    //      and the composed oracle reuses their SQL pieces verbatim
    //      (gopherSgSql/gopherKeepSql/c4KeptSql), so the two pipelines
    //      cannot drift apart silently — the q59 composition argument
    //      over the round-6 surface.
    ("q89_curation_v2", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents.withColumn("text", ruleLinesText)
      val g = graft.text.Quality.gopherQuality(docs).select(col("doc_id"), col("keep"))
      val c = graft.text.Quality.c4Clean(docs).select(col("doc_id"), col("keep_doc"))
      val survivors = docs.join(g, Seq("doc_id")).join(c, Seq("doc_id"))
        .filter(col("keep") && col("keep_doc"))
        .select(col("doc_id"), col("source"))
      val capped = Sampling.perGroupCap(survivors, k = 8)
      capped.join(graft.text.Packing.trainingOrder(capped), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("cap_rank"), col("pos"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH p AS (SELECT doc_id, source, $ruleLinesTextSql AS pt FROM documents),
      $gopherSgSql,
      gk AS (SELECT doc_id FROM sg WHERE $gopherKeepSql),
      ck AS (SELECT t.doc_id FROM t
             WHERE len($c4KeptSql) >= 3
               AND NOT contains(lower(pt), 'lorem ipsum')
               AND NOT contains(pt, '{')),
      surv AS (SELECT p.doc_id, p.source FROM p
               JOIN gk USING (doc_id) JOIN ck USING (doc_id)),
      capped AS (SELECT doc_id, source, cap_rank FROM (
          SELECT doc_id, source,
                 CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
                   AS BIGINT) AS cap_rank
          FROM (SELECT doc_id, source,
                  ${TextStats.portableHash64Sql("concat('cap:', CAST(doc_id AS VARCHAR))")} AS h
                FROM surv))
        WHERE cap_rank <= 8),
      ord AS (SELECT doc_id,
                CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS pos
              FROM (SELECT doc_id,
                      ${TextStats.portableHash64Sql("concat('shuffle:', CAST(doc_id AS VARCHAR))")} AS k
                    FROM capped))
      SELECT capped.doc_id, capped.source, capped.cap_rank, ord.pos
      FROM capped JOIN ord USING (doc_id) ORDER BY capped.doc_id""")),

    ("q74_embed_outliers", (s: SparkSession, dir: String) => {
      graft.text.Similarity.centroidOutliers(Tables(s, dir).embeddings, dim = 64)
        .orderBy(col("vec_id"))
    }, Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      d AS (SELECT r.i AS i,
              ${graft.text.Similarity.meanRound6Sql("list_extract(v, r.i)")} AS mu
            FROM e, range(1, 65) r(i) GROUP BY r.i),
      c AS (SELECT list(mu ORDER BY i) AS cv FROM d)
      SELECT vec_id,
             round(list_cosine_similarity(v, (SELECT cv FROM c)), 6) AS cos_to_centroid,
             (round(list_cosine_similarity(v, (SELECT cv FROM c)), 6) < 0.0
              OR isnan(round(list_cosine_similarity(v, (SELECT cv FROM c)), 6))) AS is_outlier
      FROM e ORDER BY vec_id""")),

    // ---- UniMax language-budget sampling (waterfilling quotas +
    //      exact hash-order selection). Budget 350 on the sf0.01
    //      distribution caps fr(64) and de(70) below their equal share
    //      and redistributes the surplus to es/zh/en — the allocation
    //      path UniMax exists for. The oracle replays the ascending
    //      waterfilling pass as a recursive CTE in exact integer
    //      arithmetic, then the same portable-hash-ranked selection, so
    //      every kept doc_id is value-checked. Scale split documented
    //      on [[Sampling.unimaxSelect]] (exact rank = verify primitive;
    //      rate-filter form for corpus-sized strata).
    ("q118_unimax_budget", (s: SparkSession, dir: String) => {
      Sampling.unimaxSelect(Tables(s, dir).documents, budget = 350L)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE caps AS (
        SELECT COALESCE(lang, chr(0)) AS lang, CAST(count(*) AS BIGINT) AS cap
        FROM documents GROUP BY 1),
      ord AS (SELECT lang, cap,
                CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i
              FROM caps),
      nl AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ord),
      wf(i, lang, quota, rem) AS (
        SELECT o.i, o.lang,
               least(o.cap, 350 // (SELECT k FROM nl)),
               350 - least(o.cap, 350 // (SELECT k FROM nl))
        FROM ord o WHERE o.i = 1
        UNION ALL
        SELECT o.i, o.lang,
               least(o.cap, wf.rem // ((SELECT k FROM nl) - wf.i)),
               wf.rem - least(o.cap, wf.rem // ((SELECT k FROM nl) - wf.i))
        FROM wf JOIN ord o ON o.i = wf.i + 1),
      sel AS (SELECT doc_id, lang, source,
                COALESCE(lang, chr(0)) AS sl,
                row_number() OVER (PARTITION BY COALESCE(lang, chr(0))
                  ORDER BY ${TextStats.portableHash64Sql(
                    "concat('unimax:', CAST(doc_id AS VARCHAR))")}, doc_id) AS rnk
              FROM documents)
      SELECT s.doc_id, s.lang, s.source
      FROM sel s JOIN wf ON s.sl = wf.lang
      WHERE s.rnk <= wf.quota
      ORDER BY s.doc_id""")),

    // ---- leakage-safe train/test split: near-dup CLUSTERS are the
    //      split unit, not documents — a hash split over raw doc ids
    //      puts one copy of a near-duplicate in train and its twin in
    //      test, and the eval set silently overlaps the training set
    //      (the benchmark-contamination failure mode q55 guards
    //      against, generated from WITHIN the corpus). Every document
    //      maps to its q57 cluster label (singletons to themselves);
    //      the 80/20 assignment hashes the CLUSTER id, so an entire
    //      near-dup family lands on one side by construction. The
    //      oracle replays clusters via the q57 recursive-CTE closure
    //      and the same portable-hash rule. Shape: the q57 cluster
    //      pass + one broadcast join + a pure hash filter — nothing
    //      new shuffles at corpus scale.
    ("q121_leakage_split", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents.filter(col("doc_id") < 500)
      val pairs = Dedup.minhashNearDups(docs, threshold = 0.8,
        numHashes = 16, bands = 16)
      val cc = Dedup.connectedComponents(pairs)
        .select(col("doc_id"), col("cluster_id"))
      docs.select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("split",
          when(pmod(TextStats.portableHash64(
            concat(lit("split:"), col("cluster_id").cast("string"))), lit(100L)) < 80,
            lit("train")).otherwise(lit("test")))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE ${Dedup.nearDupLabelsSql},
      cl AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
             FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
             LEFT JOIN labels l USING (doc_id))
      SELECT doc_id, cluster_id,
             CASE WHEN ${TextStats.portableHash64Sql(
               "concat('split:', CAST(cluster_id AS VARCHAR))")} % 100 < 80
                  THEN 'train' ELSE 'test' END AS split
      FROM cl ORDER BY doc_id""")),

    // ---- stratified k-fold assignment (k = 5): within each language
    //      stratum, docs are ordered by a salted portable hash (a
    //      deterministic shuffle — no RNG state, identical in both
    //      engines) and dealt round-robin into folds, so every fold
    //      holds ⌊n/k⌋ or ⌈n/k⌉ docs of EVERY language — the
    //      stratified guarantee plain hash-mod assignment (q121's
    //      fold-free cousin) cannot give. The output is the per-
    //      (lang, fold) census plus a balanced flag certifying
    //      max−min ≤ 1 inside each stratum, so the oracle checks the
    //      invariant itself, not just the counts.
    //
    //      Scale shape: one rank window per language stratum (the
    //      hash order makes it a deterministic shuffle, not a sort on
    //      data values — skew follows language skew; for corpus-scale
    //      strata swap in the q119 two-phase range-bucket ranking,
    //      same dealing rule) and one census aggregate. Census rows =
    //      languages × k — driver-safe always.
    ("q173_stratified_kfold", (s: SparkSession, dir: String) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      val folds = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"))
        .withColumn("h", TextStats.portableHash64(
          concat(lit("fold:"), col("doc_id").cast("string"))))
        .withColumn("fold", pmod(row_number().over(w) - 1, lit(5)).cast("long"))
      val census = folds.groupBy(col("lang"), col("fold"))
        .agg(count(lit(1)).as("n_docs"))
      val wl = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      census
        .withColumn("balanced",
          max(col("n_docs")).over(wl) - min(col("n_docs")).over(wl) <= 1L)
        .orderBy(col("lang"), col("fold"))
    }, Some(s"""
      WITH f AS (
        SELECT doc_id, lang,
               (row_number() OVER (PARTITION BY lang
                  ORDER BY ${TextStats.portableHash64Sql(
                    "concat('fold:', CAST(doc_id AS VARCHAR))")}, doc_id)
                - 1) % 5 AS fold
        FROM documents),
      census AS (
        SELECT lang, CAST(fold AS BIGINT) AS fold,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM f GROUP BY lang, fold)
      SELECT lang, fold, n_docs,
             (max(n_docs) OVER (PARTITION BY lang)
              - min(n_docs) OVER (PARTITION BY lang)) <= 1 AS balanced
      FROM census ORDER BY lang, fold"""))
  ,

    // ---- k-fold cross-validation readout over the q173 folds: for
    //      every fold, train the per-language mean-length model on the
    //      OTHER four folds and score MAE on the held-out fold — the
    //      stability report that says whether a corpus statistic is a
    //      property of the data or of one lucky split. The key scale
    //      move: out-of-fold means come from TOTALS MINUS FOLD SUMS
    //      ((Σ_lang − Σ_{lang,fold}) DIV (n_lang − n_{lang,fold})),
    //      so the whole 5-fold CV costs ONE doc-level pass + joins on
    //      the langs×folds count table — never k re-scans of the
    //      corpus. zz rows: 999 = pooled MAE over all folds, 998 =
    //      max−min fold spread (the instability signal itself).
    //      Exact integers throughout (micros sums, truncating DIV).
    ("q181_kfold_cv", (s: SparkSession, dir: String) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      val folds = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("h", TextStats.portableHash64(
          concat(lit("fold:"), col("doc_id").cast("string"))))
        .withColumn("fold", pmod(row_number().over(w) - 1, lit(5)).cast("long"))
        .transform(graft.Stage.mat) // feeds the fold sums AND the error join
      val lf = folds.groupBy(col("lang"), col("fold"))
        .agg(count(lit(1)).as("n_lf"), sum(col("n_chars")).as("s_lf"))
      val lt = lf.groupBy(col("lang"))
        .agg(sum(col("n_lf")).as("n_l"), sum(col("s_lf")).as("s_l"))
      val loo = lf.join(lt, Seq("lang"))
        .selectExpr("lang", "fold",
          """CASE WHEN n_l - n_lf > 0
               THEN ((s_l - s_lf) * 1000000) DIV (n_l - n_lf)
               ELSE 0 END AS mean_micros""")
      val errs = folds.join(broadcast(loo), Seq("lang", "fold"))
        .selectExpr("fold", "abs(n_chars * 1000000 - mean_micros) AS err")
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_eval"), sum(col("err")).as("serr"))
        .selectExpr("fold", "n_eval", "serr DIV n_eval AS mae_micros")
      val zz = errs.agg(sum(col("n_eval")).as("nt"),
          sum(expr("mae_micros * n_eval")).as("wsum"))
        .selectExpr(
          "CAST(999 AS BIGINT) AS fold", "nt AS n_eval",
          "wsum DIV nt AS mae_micros")
      val spread = errs.agg(max(col("mae_micros")).as("mx"),
          min(col("mae_micros")).as("mn"))
        .selectExpr("CAST(998 AS BIGINT) AS fold", "CAST(0 AS BIGINT) AS n_eval",
          "mx - mn AS mae_micros")
      errs.unionAll(zz).unionAll(spread).orderBy(col("fold"))
    }, Some(s"""
      WITH f AS (
        SELECT doc_id, lang, n_chars,
               (row_number() OVER (PARTITION BY lang
                  ORDER BY ${TextStats.portableHash64Sql(
                    "concat('fold:', CAST(doc_id AS VARCHAR))")}, doc_id)
                - 1) % 5 AS fold
        FROM documents),
      lf AS (
        SELECT lang, CAST(fold AS BIGINT) AS fold,
               CAST(count(*) AS BIGINT) AS n_lf,
               CAST(SUM(n_chars) AS BIGINT) AS s_lf
        FROM f GROUP BY lang, fold),
      lt AS (SELECT lang, CAST(SUM(n_lf) AS BIGINT) AS n_l,
                    CAST(SUM(s_lf) AS BIGINT) AS s_l
             FROM lf GROUP BY lang),
      loo AS (
        SELECT lf.lang, lf.fold,
               CASE WHEN n_l - n_lf > 0
                 THEN ((s_l - s_lf) * 1000000) // (n_l - n_lf)
                 ELSE 0 END AS mean_micros
        FROM lf JOIN lt ON lf.lang = lt.lang),
      errs AS (
        SELECT loo.fold, CAST(count(*) AS BIGINT) AS n_eval,
               CAST(SUM(abs(f.n_chars * 1000000 - mean_micros)) AS BIGINT) AS serr
        FROM f JOIN loo ON f.lang = loo.lang AND f.fold = loo.fold
        GROUP BY loo.fold),
      per AS (SELECT fold, n_eval, serr // n_eval AS mae_micros FROM errs)
      SELECT fold, n_eval, CAST(mae_micros AS BIGINT) AS mae_micros FROM per
      UNION ALL
      SELECT CAST(999 AS BIGINT), CAST(SUM(n_eval) AS BIGINT),
             CAST(SUM(mae_micros * n_eval) // SUM(n_eval) AS BIGINT)
      FROM per
      UNION ALL
      SELECT CAST(998 AS BIGINT), CAST(0 AS BIGINT),
             CAST(MAX(mae_micros) - MIN(mae_micros) AS BIGINT)
      FROM per
      ORDER BY fold""")),

    // ---- tokenizer fertility per language: sub-word (bpeish) tokens
    //      per whitespace word and chars per sub-word token — the
    //      tokenizer-equity audit (a language whose fertility runs 2×
    //      the corpus norm pays 2× the context budget for the same
    //      content; the standard multilingual-tokenizer complaint made
    //      measurable). One projection pass + a language-sized
    //      aggregate; the oracle replays both token regexes (explicit
    //      whitespace class — the VT parity rule) and both ratios.
    ("q223_tokenizer_fertility", (s: SparkSession, dir: String) => {
      Tables(s, dir).documents
        .select(col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("wt"),
          size(TextStats.bpeishTokens(col("text"))).cast("long").as("bt"),
          col("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("wt")).as("n_words"),
          sum(col("bt")).as("n_bpeish"), sum(col("n_chars")).as("n_chars"))
        .selectExpr("lang", "n_docs", "n_words", "n_bpeish", "n_chars",
          "(1000000 * n_bpeish) DIV greatest(n_words, 1) AS fertility_ppm",
          "(1000000 * n_chars) DIV greatest(n_bpeish, 1) AS chars_per_tok_ppm")
        .orderBy(col("lang"))
    }, Some(s"""
      WITH f AS (
        SELECT lang,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS wt,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9${TextStats.wsCharsSql}]')) AS BIGINT) AS bt,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(wt) AS BIGINT) AS n_words,
             CAST(SUM(bt) AS BIGINT) AS n_bpeish,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             CAST((1000000 * SUM(bt)) // greatest(SUM(wt), 1) AS BIGINT)
               AS fertility_ppm,
             CAST((1000000 * SUM(n_chars)) // greatest(SUM(bt), 1) AS BIGINT)
               AS chars_per_tok_ppm
      FROM f GROUP BY lang ORDER BY lang""")),

    // ---- domain-mixture rebalance: per-source hash acceptance rates
    //      toward a UNIFORM source mix (the DoReMi-style reweighting
    //      reduced to its deterministic sampling skeleton): rate_s =
    //      min(1, target div n_s) with target = N div S, kept iff
    //      hash('rb:'||doc_id) ppm < rate. Pure map-side filter — the
    //      q100 sampling discipline, no rand(), no shuffle beyond the
    //      source-sized aggregate; the oracle replays every
    //      per-document accept decision.
    ("q224_domain_rebalance", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents
      val bySrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_before"))
      val tot = bySrc.agg(sum(col("n_before")).as("n"),
        count(lit(1)).as("s_cnt"))
      val rates = graft.Stage.mat(bySrc.crossJoin(broadcast(tot))
        .selectExpr("source", "n_before",
          "least(CAST(1000000 AS BIGINT), (1000000 * (n DIV s_cnt)) DIV n_before) AS rate_ppm"))
      val kept = docs.join(rates, Seq("source"))
        .filter(TextStats.portableHash64(
          concat(lit("rb:"), col("doc_id").cast("string"))) % 1000000L < col("rate_ppm"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_after"))
      val per = rates.join(kept, Seq("source"), "left")
        .selectExpr("source", "n_before", "rate_ppm",
          "coalesce(n_after, CAST(0 AS BIGINT)) AS n_after")
        .transform(graft.Stage.mat)
      val zz = per.agg(sum(col("n_before")).as("nb"), sum(col("n_after")).as("na"))
        .selectExpr("'zz_total' AS source", "nb AS n_before",
          "CAST(0 AS BIGINT) AS rate_ppm", "na AS n_after")
      per.unionByName(zz).orderBy(col("source"))
    }, Some(s"""
      WITH bysrc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_before
                     FROM documents GROUP BY source),
      tot AS (SELECT CAST(SUM(n_before) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS s_cnt FROM bysrc),
      rates AS (
        SELECT source, n_before,
               least(1000000, (1000000 * (n // s_cnt)) // n_before) AS rate_ppm
        FROM bysrc CROSS JOIN tot),
      kept AS (
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_after
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE ${TextStats.portableHash64Sql(
          "concat('rb:', CAST(d.doc_id AS VARCHAR))")} % 1000000 < r.rate_ppm
        GROUP BY d.source),
      per AS (
        SELECT r.source, r.n_before, CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
               COALESCE(k.n_after, 0) AS n_after
        FROM rates r LEFT JOIN kept k ON r.source = k.source)
      SELECT source, n_before, rate_ppm, CAST(n_after AS BIGINT) AS n_after FROM per
      UNION ALL
      SELECT 'zz_total', CAST(SUM(n_before) AS BIGINT), CAST(0 AS BIGINT),
             CAST(SUM(n_after) AS BIGINT)
      FROM per
      ORDER BY source""")),

    // ---- semantic dedup, SemDeDup-style (Abbas et al. 2023, reduced
    //      to its deterministic skeleton): embeddings cluster via the
    //      q64 k-means (2 fixed rounds, hash seeds), then near-dup
    //      pairs are found ONLY within clusters (round-6 cosine ≥
    //      0.35, the q46 operating point) and every pair's higher id
    //      drops. Per-cluster dedup ledger + the zz totals row. The
    //      within-cluster all-pairs is the published algorithm's shape
    //      — cluster size, not corpus size, bounds the quadratic term,
    //      so k (or a size cap per cell) is the scale knob; the
    //      cross-cluster misses are the documented recall tradeoff.
    //      The oracle replays both k-means rounds, every pair cosine,
    //      and the drop-set distinct.
    ("q225_semantic_dedup", (s: SparkSession, dir: String) => {
      val emb = Tables(s, dir).embeddings
      // k ∝ n cell contract + budget guard before the within-cell
      // all-pairs (Similarity.cellCountFor/requireCellBounded, r8 ask #1)
      val n = emb.count()
      val k = graft.text.Similarity.cellCountFor(n)
      graft.text.Similarity.requireCellBounded(n, k)
      val asg = graft.text.Similarity.kmeansAssignWith(
        graft.text.Similarity.kmeansFitMemo(s, dir, k, 64), emb).drop("v")
      val mem = graft.Stage.mat(asg.select(col("vec_id"), col("centroid_id"))
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id")))
      val pa = mem.select(col("centroid_id"), col("vec_id").as("id_a"),
        col("embedding").as("va"))
      val pb = mem.select(col("centroid_id"), col("vec_id").as("id_b"),
        col("embedding").as("vb"))
      val pairs = pa.join(pb, Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos_r",
          round(graft.text.Similarity.cosine(col("va"), col("vb")), 6))
        .filter(col("cos_r") >= 0.35)
        .select(col("centroid_id"), col("id_a"), col("id_b"))
        .transform(graft.Stage.mat)
      val members = mem.groupBy(col("centroid_id")).agg(count(lit(1)).as("n_members"))
      val pcnt = pairs.groupBy(col("centroid_id")).agg(count(lit(1)).as("n_dup_pairs"))
      val drops = pairs.select(col("centroid_id"), col("id_b")).distinct()
        .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_dropped"))
      val per = members.join(pcnt, Seq("centroid_id"), "left")
        .join(drops, Seq("centroid_id"), "left")
        .selectExpr("CAST(centroid_id AS BIGINT) AS centroid_id", "n_members",
          "coalesce(n_dup_pairs, CAST(0 AS BIGINT)) AS n_dup_pairs",
          "coalesce(n_dropped, CAST(0 AS BIGINT)) AS n_dropped",
          "n_members - coalesce(n_dropped, CAST(0 AS BIGINT)) AS n_kept")
        .transform(graft.Stage.mat)
      val zz = per.agg(sum(col("n_members")).as("m"), sum(col("n_dup_pairs")).as("p"),
          sum(col("n_dropped")).as("d"), sum(col("n_kept")).as("k"))
        .selectExpr("CAST(-1 AS BIGINT) AS centroid_id", "m AS n_members",
          "p AS n_dup_pairs", "d AS n_dropped", "k AS n_kept")
      per.unionByName(zz).orderBy(col("centroid_id"))
    }, Some(s"""
      WITH ${graft.text.Similarity.kmeansAssignSql},
      mem AS (SELECT a2.vec_id, a2.cid, e.v
              FROM a2 JOIN e ON a2.vec_id = e.vec_id WHERE rn = 1),
      pairs AS (
        SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
        FROM mem a JOIN mem b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
      members AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members
                  FROM mem GROUP BY cid),
      pcnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_dup_pairs
               FROM pairs GROUP BY cid),
      drops AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_dropped
                FROM (SELECT DISTINCT cid, id_b FROM pairs) GROUP BY cid),
      per AS (
        SELECT CAST(m.cid AS BIGINT) AS centroid_id, m.n_members,
               COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
               COALESCE(d.n_dropped, 0) AS n_dropped,
               m.n_members - COALESCE(d.n_dropped, 0) AS n_kept
        FROM members m LEFT JOIN pcnt p ON m.cid = p.cid
        LEFT JOIN drops d ON m.cid = d.cid)
      SELECT centroid_id, n_members, CAST(n_dup_pairs AS BIGINT) AS n_dup_pairs,
             CAST(n_dropped AS BIGINT) AS n_dropped, CAST(n_kept AS BIGINT) AS n_kept
      FROM per
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(SUM(n_members) AS BIGINT),
             CAST(SUM(n_dup_pairs) AS BIGINT), CAST(SUM(n_dropped) AS BIGINT),
             CAST(SUM(n_kept) AS BIGINT)
      FROM per
      ORDER BY centroid_id""")),

    // ---- cell-bounded DBSCAN (Ester et al. 1996) over the embedding
    //      corpus: density clusters the centroid methods can't express
    //      (kmeans/SemDeDup force convex cells; DBSCAN grows clusters
    //      through chains of dense neighbors and calls sparse points
    //      NOISE — the "does this corpus have dense duplicate blobs or
    //      a thin shell" question a curation run asks before choosing
    //      its dedup strategy). Neighborhoods are cos_r ≥ 0.35 WITHIN
    //      the q225 kmeans cell — the deliberate, documented deviation
    //      from textbook DBSCAN, and exactly how it deploys at 100 TB:
    //      the eps-graph is cell-bounded (IVF-cell pairwise only,
    //      PlanSpec-style never all-pairs), so cross-cell density
    //      chains are cut at cell borders, the same bounding SemDeDup
    //      accepts. Core = ≥ minPts−1 = 2 in-cell neighbors; clusters =
    //      connected components of the core-core graph (Dedup
    //      .connectedComponents — min-label prop with star-contraction
    //      escalation); border = non-core adjacent to a core, labeled
    //      by its minimum core cluster; everything else is noise.
    //      Output: (cluster_id = min core id, n_core, n_border,
    //      n_points) per cluster + the (-1, 0, 0, n_noise) noise row.
    //      The oracle replays the full chain — kmeans seeds/rounds,
    //      pair graph, core set, a recursive-CTE min-reachable closure
    //      in place of the iterated propagation (identical labels:
    //      both compute min id per component), border argmin — so
    //      every label is value-checked cross-engine.
    ("q258_density_clusters", (s: SparkSession, dir: String) => {
      val emb = Tables(s, dir).embeddings
      densityClusters(emb, fit = Some(k => graft.text.Similarity.kmeansFitMemo(s, dir, k, 64)))
    }, Some(s"""
      WITH RECURSIVE ${graft.text.Similarity.kmeansAssignSql},
      mem AS (SELECT a2.vec_id, a2.cid, e.v
              FROM a2 JOIN e ON a2.vec_id = e.vec_id WHERE rn = 1),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM mem a JOIN mem b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
      adj AS (SELECT id_a AS v, id_b AS nbr FROM pairs
              UNION ALL SELECT id_b AS v, id_a AS nbr FROM pairs),
      core AS (SELECT v FROM (SELECT v, count(*) AS nn FROM adj GROUP BY v)
               WHERE nn >= 2),
      cadj AS (SELECT a.v, a.nbr FROM adj a
               WHERE a.v IN (SELECT v FROM core) AND a.nbr IN (SELECT v FROM core)),
      reach AS (SELECT v, v AS r FROM core
                UNION
                SELECT c.v, reach.r FROM cadj c JOIN reach ON c.nbr = reach.v),
      lab AS (SELECT v, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY v),
      blab AS (SELECT a.v, CAST(min(l.cluster_id) AS BIGINT) AS cluster_id
               FROM adj a JOIN lab l ON a.nbr = l.v
               WHERE a.v NOT IN (SELECT v FROM core)
               GROUP BY a.v),
      alllab AS (SELECT v, cluster_id, 1 AS is_core FROM lab
                 UNION ALL SELECT v, cluster_id, 0 AS is_core FROM blab),
      per AS (SELECT cluster_id, CAST(SUM(is_core) AS BIGINT) AS n_core,
                     CAST(SUM(1 - is_core) AS BIGINT) AS n_border
              FROM alllab GROUP BY cluster_id)
      SELECT cluster_id, n_core, n_border, n_core + n_border AS n_points
      FROM per
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             (SELECT CAST(count(*) AS BIGINT) FROM e)
               - (SELECT CAST(count(*) AS BIGINT) FROM alllab)
      ORDER BY cluster_id""")),

    // ---- Good-Turing frequency smoothing (Good 1953) over the BIGRAM
    //      table (the q134 Kneser-Ney unit — the fixture's unigram
    //      vocabulary is a closed 31-token set with min count 26, so
    //      only the bigram table has the low-frequency tail GT is FOR):
    //      from the count-of-counts table N_r, the smoothed count
    //      r* = (r+1)·N_{r+1}/N_r, and the unseen-mass estimate
    //      p₀ = N_1/N on the zz row. Rows r = 1..20 — the regime where
    //      GT is meaningful; beyond it N_r is sparse and practice
    //      switches to raw counts (documented cutoff, not a silent cap:
    //      zz carries the full N and N_1 regardless). Exact micros.
    //
    //      Scale shape: one bigram count (map-side combined), one
    //      count-of-counts aggregate (distinct-multiplicity-sized), a
    //      self-join on r+1 over that tiny table.
    ("q284_good_turing", (s: SparkSession, dir: String) => {
      val bi = wordBigrams(s, dir)
      val counts = bi.groupBy(col("g")).agg(count(lit(1)).as("r"))
      val coc = graft.Stage.mat(
        counts.groupBy(col("r")).agg(count(lit(1)).as("n_r")))
      val tot = coc.agg(sum(expr("r * n_r")).as("n_tokens"),
        sum(when(col("r") === 1L, col("n_r")).otherwise(0L)).as("n1"))
      val rows = coc.filter(col("r") <= 20L)
        .join(coc.selectExpr("r - 1 AS r", "n_r AS n_r_next"), Seq("r"), "left")
        .selectExpr("r", "n_r", "coalesce(n_r_next, 0) AS n_r_next",
          "((r + 1) * coalesce(n_r_next, 0) * 1000000) DIV n_r AS r_star_micros")
      val zz = tot.selectExpr("CAST(-1 AS BIGINT) AS r", "n_tokens AS n_r",
        "n1 AS n_r_next", "(n1 * 1000000) DIV greatest(n_tokens, 1) AS r_star_micros")
      rows.unionByName(zz).orderBy(col("r"))
    }, Some(s"""
      WITH $wordBigramsSql,
      counts AS (SELECT g, CAST(count(*) AS BIGINT) AS r FROM bi GROUP BY g),
      coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY r),
      tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
                     CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
              FROM coc),
      rows_ AS (
        SELECT a.r, a.n_r, coalesce(b.n_r, 0) AS n_r_next,
               ((a.r + 1) * coalesce(b.n_r, 0) * 1000000) // a.n_r AS r_star_micros
        FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
        WHERE a.r <= 20)
      SELECT r, n_r, n_r_next, r_star_micros FROM rows_
      UNION ALL
      SELECT CAST(-1 AS BIGINT), n_tokens, n1,
             (n1 * 1000000) // greatest(n_tokens, 1) FROM tot
      ORDER BY r"""))
  ,

    // ---- Chao1 species-richness estimate (Chao 1984, bias-corrected
    //      form) over the bigram vocabulary: "how many bigram types
    //      does the SOURCE distribution have, counting the ones this
    //      sample never saw" — the unseen-vocabulary companion of
    //      q284's unseen-MASS (both read the same count-of-counts
    //      table; Chao1 answers sizing questions — vocab tables, OOV
    //      budgets — that p₀ doesn't). V̂ = V + f₁(f₁−1) DIV (2(f₂+1)),
    //      exact integers (the +1 makes f₂ = 0 safe); zz also carries
    //      Good's sample coverage Ĉ = 1e6 − (1e6·f₁) DIV N ppm. Head
    //      rows r = 1..3 expose the singleton/doubleton/tripleton
    //      counts the estimate is built from.
    //
    //      Scale shape: identical to q284 — one map-side-combined
    //      bigram count, one distinct-multiplicity-sized
    //      count-of-counts aggregate, constant-size folds after.
    ("q316_chao1_richness", (s: SparkSession, dir: String) => {
      val bi = wordBigrams(s, dir)
      val coc = graft.Stage.mat(bi.groupBy(col("g")).agg(count(lit(1)).as("r"))
        .groupBy(col("r")).agg(count(lit(1)).as("n_r")))
      val head = coc.filter(col("r") <= 3L)
        .selectExpr("r", "n_r", "CAST(0 AS BIGINT) AS v_obs",
          "CAST(0 AS BIGINT) AS v_chao1", "CAST(0 AS BIGINT) AS coverage_ppm")
      val zz = coc.agg(sum(expr("r * n_r")).as("n"),
          sum(col("n_r")).as("v"),
          sum(when(col("r") === 1L, col("n_r")).otherwise(0L)).as("f1"),
          sum(when(col("r") === 2L, col("n_r")).otherwise(0L)).as("f2"))
        .selectExpr("CAST(-1 AS BIGINT) AS r", "n AS n_r", "v AS v_obs",
          "v + (f1 * (f1 - 1)) DIV (2 * (f2 + 1)) AS v_chao1",
          "1000000 - (1000000 * f1) DIV greatest(n, 1) AS coverage_ppm")
      head.unionByName(zz).orderBy(col("r"))
    }, Some(s"""
      WITH $wordBigramsSql,
      coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM (
                SELECT g, CAST(count(*) AS BIGINT) AS r FROM bi GROUP BY g)
              GROUP BY r),
      zz AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n,
                    CAST(SUM(n_r) AS BIGINT) AS v,
                    CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS f1,
                    CAST(SUM(CASE WHEN r = 2 THEN n_r ELSE 0 END) AS BIGINT) AS f2
             FROM coc)
      SELECT r, n_r, CAST(0 AS BIGINT) AS v_obs, CAST(0 AS BIGINT) AS v_chao1,
             CAST(0 AS BIGINT) AS coverage_ppm
      FROM coc WHERE r <= 3
      UNION ALL
      SELECT CAST(-1 AS BIGINT), n, v,
             v + (f1 * (f1 - 1)) // (2 * (f2 + 1)),
             1000000 - (1000000 * f1) // greatest(n, 1)
      FROM zz
      ORDER BY r"""))
  ,

    // ---- leave-one-source-out ablation (the deterministic core of
    //      data valuation — the question a Shapley/influence method
    //      approximates, answered EXACTLY for the single-removal case
    //      because the corpus metric is a ratio of sums and therefore
    //      decomposes): for every source, the corpus type-token quality
    //      (q306's TTR-micros proxy) recomputed WITHOUT that source,
    //      and the delta against the full corpus — positive delta =
    //      removing the source RAISES corpus quality = the source is
    //      dragging the mixture down. One map-side-combined per-source
    //      aggregate; every ablation is catalog-sized arithmetic on the
    //      totals, so the corpus is read once no matter how many
    //      sources are scored — the property that makes this the 100 TB
    //      alternative to retrain-per-ablation.
    ("q317_source_ablation", (s: SparkSession, dir: String) => {
      val toks = filter(TextStats.tokens(lower(col("text"))), t => t =!= lit(""))
      val per = graft.Stage.mat(Tables(s, dir).documents
        .select(col("source"), size(toks).as("nt"),
          size(array_distinct(toks)).as("ndt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt").cast("long")).as("n_tok"),
          sum(col("ndt").cast("long")).as("n_dtok")))
      val tot = per.agg(sum(col("n_docs")).as("td"), sum(col("n_tok")).as("tt"),
        sum(col("n_dtok")).as("tdt"))
      val full = tot.selectExpr("'zz_full' AS source", "td AS n_docs", "tt AS n_tok",
        "(tdt * 1000000) DIV greatest(tt, 1) AS q_without_micros",
        "CAST(0 AS BIGINT) AS delta_micros")
      per.crossJoin(broadcast(tot))
        .selectExpr("source", "n_docs", "n_tok",
          "((tdt - n_dtok) * 1000000) DIV greatest(tt - n_tok, 1) AS q_without_micros",
          "(tdt * 1000000) DIV greatest(tt, 1) AS q_full_micros")
        .selectExpr("source", "n_docs", "n_tok", "q_without_micros",
          "q_without_micros - q_full_micros AS delta_micros")
        .unionByName(full)
        .orderBy(col("source"))
    }, Some(s"""
      WITH per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS n_tok,
               CAST(SUM(ndt) AS BIGINT) AS n_dtok
        FROM (SELECT source,
                len(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                  x -> x <> '')) AS nt,
                len(list_distinct(list_filter(regexp_split_to_array(lower(text),
                  '$ws+'), x -> x <> ''))) AS ndt
              FROM documents)
        GROUP BY source),
      tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
                     CAST(SUM(n_tok) AS BIGINT) AS tt,
                     CAST(SUM(n_dtok) AS BIGINT) AS tdt FROM per)
      SELECT source, n_docs, n_tok,
             ((tdt - n_dtok) * 1000000) // GREATEST(tt - n_tok, 1) AS q_without_micros,
             ((tdt - n_dtok) * 1000000) // GREATEST(tt - n_tok, 1)
               - (tdt * 1000000) // GREATEST(tt, 1) AS delta_micros
      FROM per CROSS JOIN tot
      UNION ALL
      SELECT 'zz_full', td, tt, (tdt * 1000000) // GREATEST(tt, 1),
             CAST(0 AS BIGINT)
      FROM tot
      ORDER BY source"""))
  ,

    // ---- Hill tail-index estimator (Hill 1975): over the k = 64
    //      largest bigram frequencies, α̂ = 1 / mean(ln(x_i / x_ref))
    //      with x_ref the (k+1)-th order statistic — the standard
    //      heavy-tail exponent readout (α ≈ 1 says Zipf; α large says
    //      thin tail), the quantitative companion to q216's Heaps curve
    //      and the q131 concentration audits. ln enters through the
    //      q227 round-nanos convention (round(ln·1e9) — the 1e-9 snap
    //      absorbs the sub-ULP libm differences between engines);
    //      everything after is integer arithmetic. Top-(k+1) selection
    //      is TakeOrderedAndProject on (count desc, bigram) — bounded,
    //      no window.
    ("q292_hill_tail_index", (s: SparkSession, dir: String) => {
      val bi = wordBigrams(s, dir)
      val ranked = bi.groupBy(col("g")).agg(count(lit(1)).as("r"))
        .orderBy(col("r").desc, col("g")).limit(65)
        .withColumn("lnr",
          expr("CAST(round(ln(CAST(r AS DOUBLE)) * 1000000000, 0) AS BIGINT)"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("r").desc, col("g"))).cast("long"))
        .transform(graft.Stage.mat)
      val ref = ranked.filter(col("rk") === 65L)
        .selectExpr("r AS x_ref", "lnr AS ln_ref")
      ranked.filter(col("rk") <= 64L).crossJoin(broadcast(ref))
        .agg(count(lit(1)).as("k"), min(col("x_ref")).as("x_ref"),
          sum(col("lnr") - col("ln_ref")).as("sln"))
        .selectExpr("k", "x_ref", "sln DIV k AS mean_ln_ratio_nanos",
          "CAST(1000000000000000 DIV greatest(sln DIV k, 1) AS BIGINT) AS alpha_micros")
    }, Some(s"""
      WITH $wordBigramsSql,
      top AS (
        SELECT g, CAST(count(*) AS BIGINT) AS r,
               CAST(round(ln(CAST(count(*) AS DOUBLE)) * 1000000000, 0)
                 AS BIGINT) AS lnr
        FROM bi GROUP BY g ORDER BY r DESC, g LIMIT 65),
      ranked AS (
        SELECT *, CAST(row_number() OVER (ORDER BY r DESC, g) AS BIGINT) AS rk
        FROM top),
      ref AS (SELECT r AS x_ref, lnr AS ln_ref FROM ranked WHERE rk = 65)
      SELECT CAST(count(*) AS BIGINT) AS k, MIN(x_ref) AS x_ref,
             CAST(SUM(lnr - ln_ref) AS BIGINT) // count(*) AS mean_ln_ratio_nanos,
             CAST(1000000000000000
                  // greatest(CAST(SUM(lnr - ln_ref) AS BIGINT) // count(*), 1)
                  AS BIGINT) AS alpha_micros
      FROM ranked CROSS JOIN ref WHERE rk <= 64""")),

    // ---- markdown render pass (F2–F4, reference handlers/comments.js:
    //      43-59): the engine's one genuine JVM UDF (TextFns.mdToText)
    //      plus the codegen'd image harvest, run over the full corpus —
    //      the timed bench entry VERDICT r8 ask #7 requested, so a
    //      regression in the renderer (or the UDF's serialization cost
    //      creeping into the hot path) shows up in bench_detail instead
    //      of hiding behind golden tests. Per doc: the rendered plain
    //      text, its length, and the harvested image-URL count.
    //
    //      NO ORACLE — by design, not omission: mdToPlainText is a
    //      Java-regex pipeline whose emphasis patterns use
    //      backreferences ((\*\*|__)(.*?)\1), which DuckDB's RE2 cannot
    //      express, and reordering into a backref-free chain changes
    //      the rendering semantics the TextFnsSpec goldens pin. The
    //      driver records its rows-only check; the VALUE contract is
    //      the golden suite. At 100 TB the pass is one narrow
    //      projection — the UDF is the only non-codegen expression in
    //      the engine, which is exactly why its cost gets a bench line.
    // ---- training-mixture allocation (the data-mixing step of a
    //      pretraining pipeline, reduced to its deterministic greedy
    //      skeleton): sources are scored by type-token ratio (micros —
    //      the cheap lexical-diversity quality proxy), then a token
    //      budget of HALF the corpus fills greedily in quality order
    //      (ties: source asc) — each source contributes
    //      min(its tokens, remaining budget). Output: the per-source
    //      allocation ledger (+utilization) and the zz mix summary
    //      with the allocation-weighted quality of the final mixture —
    //      the number a mixing run reports. The cumulation window runs
    //      over the SOURCE-CATALOG-sized table (PlanSpec-allowlisted
    //      with a ≤1024 bound), never the corpus; everything upstream
    //      is one map-side-combined per-source aggregate.
    ("q306_mixture_alloc", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir).documents
      val toks = filter(TextStats.tokens(lower(col("text"))), t => t =!= lit(""))
      val per = graft.Stage.mat(d
        .select(col("source"), size(toks).as("nt"),
          size(array_distinct(toks)).as("ndt"))
        .groupBy(col("source"))
        .agg(sum(col("nt").cast("long")).as("n_tok"),
          sum(col("ndt").cast("long")).as("n_dtok"))
        .selectExpr("source", "n_tok",
          "(n_dtok * 1000000) DIV greatest(n_tok, 1) AS quality_micros"))
      val budget = per.agg(expr("sum(n_tok) DIV 2").as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("quality_micros").desc, col("source"))
      val alloc = per.crossJoin(broadcast(budget))
        .withColumn("cum_before",
          coalesce(sum(col("n_tok")).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
            lit(0L)))
        .selectExpr("source", "n_tok", "quality_micros",
          "greatest(CAST(0 AS BIGINT), least(n_tok, b - cum_before)) AS alloc")
        .selectExpr("source", "n_tok", "quality_micros", "alloc",
          "(alloc * 1000000) DIV greatest(n_tok, 1) AS util_ppm")
        .transform(graft.Stage.mat)
      val zz = alloc.crossJoin(broadcast(budget))
        .agg(max(col("b")).as("n_tok"), sum(col("alloc")).as("alloc"),
          sum(expr("alloc * quality_micros")).as("wq"))
        .selectExpr("'zz_mix' AS source", "n_tok",
          "wq DIV greatest(alloc, 1) AS quality_micros", "alloc",
          "(alloc * 1000000) DIV greatest(n_tok, 1) AS util_ppm")
      alloc.unionByName(zz).orderBy(col("source"))
    }, Some(s"""
      WITH per AS (
        SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tok,
               (CAST(SUM(ndt) AS BIGINT) * 1000000)
                 // GREATEST(CAST(SUM(nt) AS BIGINT), 1) AS quality_micros
        FROM (SELECT source,
                len(list_filter(regexp_split_to_array(lower(text),
                  '${TextStats.wsClassSql}+'), x -> x <> '')) AS nt,
                len(list_distinct(list_filter(regexp_split_to_array(lower(text),
                  '${TextStats.wsClassSql}+'), x -> x <> ''))) AS ndt
              FROM documents)
        GROUP BY source),
      bu AS (SELECT CAST(SUM(n_tok) // 2 AS BIGINT) AS b FROM per),
      al AS (
        SELECT source, n_tok, quality_micros,
               GREATEST(CAST(0 AS BIGINT),
                 LEAST(n_tok, b - COALESCE(SUM(n_tok) OVER (
                   ORDER BY quality_micros DESC, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS alloc
        FROM per CROSS JOIN bu),
      led AS (SELECT source, n_tok, quality_micros, alloc,
                     (alloc * 1000000) // GREATEST(n_tok, 1) AS util_ppm
              FROM al)
      SELECT source, n_tok, quality_micros, CAST(alloc AS BIGINT) AS alloc,
             CAST(util_ppm AS BIGINT) AS util_ppm
      FROM led
      UNION ALL
      SELECT 'zz_mix', (SELECT b FROM bu),
             CAST(CAST(SUM(alloc * quality_micros) AS BIGINT)
               // GREATEST(CAST(SUM(alloc) AS BIGINT), 1) AS BIGINT),
             CAST(SUM(alloc) AS BIGINT),
             CAST((CAST(SUM(alloc) AS BIGINT) * 1000000)
               // GREATEST((SELECT b FROM bu), 1) AS BIGINT)
      FROM led
      ORDER BY source"""))
  ) ++ Seq(
    ("q296_markdown_render", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir).documents
      d.select(col("doc_id"),
          graft.ops.TextFns.mdToText(col("text")).as("plain"),
          graft.ops.TextFns.harvestImages(col("text"),
            lit(null).cast("array<string>")).as("imgs"))
        .selectExpr("doc_id", "plain", "length(plain) AS plain_len",
          "CAST(size(imgs) AS BIGINT) AS n_imgs")
        .orderBy(col("doc_id"))
    }, None),

    // ---- markdown image-harvest certification (VERDICT r9 ask #5):
    //      q296 is the surface's only rows-only query because the full
    //      render uses backreference regexes RE2 cannot replay — but the
    //      HARVEST regexes (handlers/comments.js:44-51) are backref-free,
    //      so this companion query value-checks exactly that subset. The
    //      fixture corpus contains no image markup (it would certify
    //      nothing), so a markdown payload is constructed deterministically
    //      from doc_id/source ON BOTH ENGINES (the piiText discipline):
    //      one md image, one html <img src>, a conditional third md image
    //      in TITLE form (exercising the `[^)\s]+` url/title split) that
    //      is a DUPLICATE url on odd doc_ids (exercising the `includes`
    //      dedup guard), plus a metadata-list entry (exercising the merge).
    //      Output: per-doc distinct-image count and a portable md5
    //      fingerprint of the SORTED url list — the harvest is
    //      value-certified url-for-url, not just counted. Pure codegen'd
    //      regexp projection, no shuffle; scale-free.
    ("q309_markdown_imgs_cert", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir).documents
      val body = concat(
        lit("intro ![fig](https://img-"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".example/a.png) body <img src=\"https://cdn."), col("source"),
        lit("/d"), col("doc_id").cast("string"), lit(".jpg\"> more "),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("![t](https://img-"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(".example/"),
            when(pmod(col("doc_id"), lit(2)) === 0, lit("b")).otherwise(lit("a")),
            lit(".png \"title text\")"))).otherwise(lit("")),
        lit(" tail"))
      val meta = array(concat(lit("meta://"), col("source")))
      d.select(col("doc_id"),
          graft.ops.TextFns.harvestImages(body, meta).as("imgs"))
        .select(col("doc_id"),
          size(col("imgs")).cast("long").as("n_imgs"),
          TextStats.portableHash64(
            array_join(array_sort(col("imgs")), "|")).as("imgs_fp"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH md AS (
        SELECT doc_id,
               'intro ![fig](https://img-' || (doc_id % 7) ||
               '.example/a.png) body <img src="https://cdn.' || source ||
               '/d' || doc_id || '.jpg"> more ' ||
               CASE WHEN doc_id % 3 = 0 THEN
                 '![t](https://img-' || (doc_id % 7) || '.example/' ||
                 CASE WHEN doc_id % 2 = 0 THEN 'b' ELSE 'a' END ||
                 '.png "title text")' ELSE '' END || ' tail' AS body,
               'meta://' || source AS meta0
        FROM documents),
      har AS (
        SELECT doc_id, list_distinct(list_concat(list_concat([meta0],
                 regexp_extract_all(body, '<img[^>]*src=["'']([^"'']+)["'']', 1)),
                 regexp_extract_all(body,
                   '!\\[[^\\]]*\\]\\(([^)${TextStats.wsCharsSql}]+)[^)]*\\)', 1))) AS imgs
        FROM md)
      SELECT doc_id, CAST(len(imgs) AS BIGINT) AS n_imgs,
             ${TextStats.portableHash64Sql("array_to_string(list_sort(imgs), '|')")} AS imgs_fp
      FROM har ORDER BY doc_id""")),

    // ---- similarity-graph percolation sweep: the "where does the
    //      near-dup graph COLLAPSE" audit a curation run does before
    //      committing to a cosine threshold (Erdős–Rényi intuition:
    //      below the percolation point components are small islands;
    //      past it one giant blob eats the corpus and transitive dedup
    //      over-drops). Three thresholds over the SAME cell-bounded
    //      pair table (q258's discipline — cellCountFor k, within-cell
    //      pairs only, computed once with cos_r kept): per threshold
    //      the edge count, linked-node count, component count, largest
    //      component, and isolated remainder, components via
    //      Dedup.connectedComponents (min-label + star-contraction
    //      escalation). The oracle replays the kmeans chain and three
    //      recursive min-reach closures — every count value-checked.
    ("q308_percolation_sweep", (s: SparkSession, dir: String) => {
      // independent CC per threshold: a shared-CC contraction measured
      // SLOWER here (10.3 s vs 8.7 s at sf0.1), since a sweep spanning
      // the percolation point resolves ~nothing above the collapse
      // (see the percolationSweep scaladoc).
      val emb = Tables(s, dir).embeddings
      percolationSweep(emb, fit = Some(k => graft.text.Similarity.kmeansFitMemo(s, dir, k, 64)))
    }, Some {
      def sweep(t: Int) = s"""
      e$t AS (SELECT id_a, id_b FROM pairs WHERE cos_r >= 0.$t),
      adj$t AS (SELECT id_a AS v, id_b AS nbr FROM e$t
                UNION ALL SELECT id_b, id_a FROM e$t),
      reach$t AS (SELECT v, v AS r FROM (SELECT DISTINCT v FROM adj$t)
                  UNION
                  SELECT a.v, reach$t.r FROM adj$t a
                  JOIN reach$t ON a.nbr = reach$t.v),
      lab$t AS (SELECT v, MIN(r) AS lbl FROM reach$t GROUP BY v),
      per$t AS (SELECT lbl, CAST(count(*) AS BIGINT) AS sz FROM lab$t GROUP BY lbl),
      st$t AS (SELECT CAST($t AS BIGINT) AS threshold_pct,
                 (SELECT CAST(count(*) AS BIGINT) FROM e$t) AS n_edges,
                 (SELECT CAST(count(*) AS BIGINT) FROM lab$t) AS n_linked,
                 (SELECT CAST(count(*) AS BIGINT) FROM per$t) AS n_components,
                 COALESCE((SELECT MAX(sz) FROM per$t), 0) AS max_component)"""
      s"""
      WITH RECURSIVE ${graft.text.Similarity.kmeansAssignSql},
      mem AS (SELECT a2.vec_id, a2.cid, e.v
              FROM a2 JOIN e ON a2.vec_id = e.vec_id WHERE rn = 1),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_r
        FROM mem a JOIN mem b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
      ${sweep(35)},
      ${sweep(50)},
      ${sweep(65)},
      nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e)
      SELECT threshold_pct, n_edges, n_linked, n_components, max_component,
             n_total - n_linked AS n_isolated
      FROM (SELECT * FROM st35 UNION ALL SELECT * FROM st50
            UNION ALL SELECT * FROM st65) CROSS JOIN nt
      ORDER BY threshold_pct"""
    }),

    // ---- perplexity-filter bias audit: the model-based sibling of
    //      q334's dedup bias audit (and the same Dodge-et-al concern
    //      aimed at quality filtering) — if the docs a perplexity
    //      filter would drop skew by SOURCE, the filter curates a
    //      domain shift, not just noise. Scores come from q65's
    //      corpus-trained add-1 bigram LM (round-6 snapped, so
    //      ppl_micros is an exact integer on both engines); the
    //      above-mean cohort split is EXACT-RATIONAL — pm·n > Σpm,
    //      no division, no quantile pass — and the per-(cohort,
    //      source) audit reports counts, within-cohort share, and
    //      mean perplexity. Docs under 2 tokens never score and are
    //      out of scope (q65's own domain).
    ("q344_ppl_filter_bias", (s: SparkSession, dir: String) => {
      val ppl = graft.Stage.mat(
        graft.text.LangModel.bigramPerplexity(Tables(s, dir).documents)
          .selectExpr("doc_id", "CAST(round(ppl * 1000000, 0) AS BIGINT) AS pm"))
      val tot = ppl.agg(sum(col("pm")).as("spm"), count(lit(1)).as("nn"))
      val per = ppl.crossJoin(broadcast(tot))
        .selectExpr("doc_id",
          """CASE WHEN CAST(pm AS DECIMAL(38,0)) * nn > spm
             THEN 'high_ppl' ELSE 'keep' END AS cohort""", "pm")
        .join(Tables(s, dir).documents.select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("cohort"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("pm")).as("sp"))
      val ctot = per.groupBy(col("cohort")).agg(sum(col("n")).as("nt"))
        .withColumnRenamed("cohort", "cohort2")
      per.join(broadcast(ctot), col("cohort") === col("cohort2"))
        .selectExpr("cohort", "source", "n", "(1000000 * n) DIV nt AS share_ppm",
          "sp DIV n AS mean_ppl_micros")
        .orderBy(col("cohort"), col("source"))
    }, Some(s"""
      WITH ${graft.text.LangModel.bigramCountsSql},
      sc AS (SELECT inst.doc_id,
               round(ln((CAST(bc.c2 AS DOUBLE) + 1.0)
                 / (CAST(uni.c1 AS DOUBLE) + CAST(vv.v AS DOUBLE))), 6) AS lp
             FROM inst
             JOIN (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
                   FROM inst GROUP BY w1, w2) bc USING (w1, w2)
             JOIN uni ON inst.w1 = uni.w
             CROSS JOIN vocab vv),
      ppl AS (SELECT doc_id,
                CAST(round(round(exp(CAST(SUM(CAST(lp AS DECIMAL(25,6))) AS DOUBLE)
                  * -1.0 / CAST(COUNT(*) AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)
                  AS pm
              FROM sc GROUP BY doc_id),
      tot AS (SELECT CAST(SUM(pm) AS BIGINT) AS spm,
                     CAST(count(*) AS BIGINT) AS nn FROM ppl),
      tagged AS (SELECT p.doc_id,
                        CASE WHEN CAST(pm AS HUGEINT) * nn > spm
                             THEN 'high_ppl' ELSE 'keep' END AS cohort, pm
                 FROM ppl p CROSS JOIN tot),
      per AS (SELECT cohort, d.source, CAST(count(*) AS BIGINT) AS n,
                     CAST(SUM(pm) AS BIGINT) AS sp
              FROM tagged tg JOIN documents d USING (doc_id)
              GROUP BY cohort, d.source),
      ctot AS (SELECT cohort, CAST(SUM(n) AS BIGINT) AS nt
               FROM per GROUP BY cohort)
      SELECT per.cohort, source, n, (1000000 * n) // nt AS share_ppm,
             sp // n AS mean_ppl_micros
      FROM per JOIN ctot ON per.cohort = ctot.cohort
      ORDER BY per.cohort, source"""))
  )
}
