package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.text.{Dedup, TextStats}

/** Scale-path operators added in round 6b: deterministic similarity
  * joins, sketch-vs-exact certifications, and corpus statistics whose
  * plans are explicitly designed for the 100 TB regime. Every declared
  * query here carries a value-level DuckDB oracle unless its semantics
  * are genuinely approximate, in which case the oracle checks an exact
  * certification contract computed alongside (the q42 playbook).
  */
object ScaleOps {
  import Relational.QFn

  private val ws = TextStats.wsClassSql

  /** Memoized offline PQ codebook per corpus dir (the ivfCentroids
    * discipline: train once, encode/rank many — the declared queries
    * time the encode/rank side, the same split a production PQ index
    * has). m=16 subspaces × k=16 codes over dim 64: 16 code bytes vs
    * 256 vector bytes (16×), the point on the recall curve where the
    * synthetic corpus still certifies (m=8 halves the codes but drops
    * shortlist-50 recall@10 to ~1–5/10 at sf0.1 — measured, below any
    * sound floor).
    */
  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[String, IndexedSeq[IndexedSeq[IndexedSeq[Double]]]]

  def pqCodebook(s: SparkSession, dir: String): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    pqCache.getOrElseUpdate(
      s"$dir|${graft.model.Tables.statToken(dir, "embeddings")}",
      graft.text.PQ.pqTrain(Tables(s, dir).embeddings, m = 16, k = 16, dim = 64))

  val defs: Seq[(String, QFn, Option[String])] = Seq(

    // ---- zone-map data-skipping advisor: the min/max-per-zone index a
    //      parquet footer keeps, audited for BOTH the table's physical
    //      layout (64 orderkey-range zones — insertion order) and the
    //      counterfactual clustered layout (64 orderdate-range zones —
    //      what a re-sort/Z-order would give). For the canonical
    //      middle-third date-range predicate each zone reports
    //      (n_rows, od_min, od_max, survives) and a CERTIFICATION
    //      column n_match — matching rows physically inside the zone,
    //      which the hash gate proves is 0 for every pruned zone (the
    //      soundness of min/max skipping, checked not assumed). The zz
    //      summary row per layout carries rows_total / rows_scanned /
    //      zones_survived: at 100 TB this one table answers "is this
    //      sort key worth maintaining?" — random insertion order scans
    //      ~everything; the clustered layout scans ~⅓.
    //
    //      Scale shape: one stats broadcast + ONE map-side-combined
    //      zone aggregate per layout over a shared materialized pass;
    //      output is 2×64 zones + 2 summary rows. No window, no sort,
    //      no fact-side shuffle beyond the 64-group aggregates.
    ("q267_zonemap_advisor", (s: SparkSession, dir: String) => {
      val o = Tables(s, dir).orders.selectExpr("o_orderkey",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT) AS od")
      val st = o.agg(min(col("od")).as("mn"), max(col("od")).as("mx"),
        min(col("o_orderkey")).as("kmn"), max(col("o_orderkey")).as("kmx"))
      val base = graft.Stage.mat(o.crossJoin(broadcast(st)).selectExpr(
        "od",
        "((o_orderkey - kmn) * 64) DIV (kmx - kmn + 1) AS z_phys",
        "((od - mn) * 64) DIV (mx - mn + 1) AS z_clus",
        "mn + (mx - mn) DIV 3 AS lo",
        "mn + (2 * (mx - mn)) DIV 3 AS hi"))
      def zones(zcol: String, layout: String) = base
        .groupBy(col(zcol).as("zone"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("od")).as("od_min"), max(col("od")).as("od_max"),
          max(col("lo")).as("lo"), max(col("hi")).as("hi"),
          sum(when(col("od").between(col("lo"), col("hi")), 1L)
            .otherwise(0L)).as("n_match"))
        .selectExpr(s"'$layout' AS layout", "zone", "n_rows", "od_min",
          "od_max",
          """CAST(CASE WHEN od_max >= lo AND od_min <= hi
                  THEN 1 ELSE 0 END AS BIGINT) AS survives""",
          "n_match")
      val per = graft.Stage.mat(
        zones("z_phys", "physical").unionByName(zones("z_clus", "clustered")))
      // zz summary per layout (q185 trailing-row convention): zone −1,
      // n_rows = total rows, od_min = rows_scanned (Σ n_rows over
      // surviving zones), od_max = zones survived, survives = −1,
      // n_match = total matching rows
      val zz = per.groupBy(col("layout")).agg(
        sum(col("n_rows")).as("n_rows"),
        sum(when(col("survives") === 1L, col("n_rows")).otherwise(0L)).as("od_min"),
        sum(col("survives")).as("od_max"),
        sum(col("n_match")).as("n_match"))
        .selectExpr("layout", "CAST(-1 AS BIGINT) AS zone", "n_rows",
          "od_min", "od_max", "CAST(-1 AS BIGINT) AS survives", "n_match")
      per.unionByName(zz).orderBy(col("layout"), col("zone"))
    }, Some("""
      WITH o AS (
        SELECT o_orderkey,
               CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                 AS BIGINT) AS od
        FROM orders),
      st AS (SELECT MIN(od) AS mn, MAX(od) AS mx,
                    MIN(o_orderkey) AS kmn, MAX(o_orderkey) AS kmx FROM o),
      base AS (
        SELECT od,
               ((o_orderkey - kmn) * 64) // (kmx - kmn + 1) AS z_phys,
               ((od - mn) * 64) // (mx - mn + 1) AS z_clus,
               mn + (mx - mn) // 3 AS lo,
               mn + (2 * (mx - mn)) // 3 AS hi
        FROM o CROSS JOIN st),
      zp AS (
        SELECT 'physical' AS layout, z_phys AS zone,
               CAST(count(*) AS BIGINT) AS n_rows,
               MIN(od) AS od_min, MAX(od) AS od_max,
               MAX(lo) AS lo, MAX(hi) AS hi,
               CAST(SUM(CASE WHEN od BETWEEN lo AND hi THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_match
        FROM base GROUP BY z_phys),
      zc AS (
        SELECT 'clustered' AS layout, z_clus AS zone,
               CAST(count(*) AS BIGINT) AS n_rows,
               MIN(od) AS od_min, MAX(od) AS od_max,
               MAX(lo) AS lo, MAX(hi) AS hi,
               CAST(SUM(CASE WHEN od BETWEEN lo AND hi THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_match
        FROM base GROUP BY z_clus),
      per AS (
        SELECT layout, zone, n_rows, od_min, od_max,
               CAST(CASE WHEN od_max >= lo AND od_min <= hi
                    THEN 1 ELSE 0 END AS BIGINT) AS survives,
               n_match
        FROM (SELECT * FROM zp UNION ALL SELECT * FROM zc))
      SELECT layout, zone, n_rows, od_min, od_max, survives, n_match FROM per
      UNION ALL
      SELECT layout, CAST(-1 AS BIGINT), CAST(SUM(n_rows) AS BIGINT),
             CAST(SUM(CASE WHEN survives = 1 THEN n_rows ELSE 0 END) AS BIGINT),
             CAST(SUM(survives) AS BIGINT), CAST(-1 AS BIGINT),
             CAST(SUM(n_match) AS BIGINT)
      FROM per GROUP BY layout
      ORDER BY layout, zone""")),

    // ---- Neyman-allocation stratified sample + Horvitz-Thompson total
    //      (Neyman 1934): the optimal fixed-budget allocation
    //      n_h ∝ N_h·σ_h, computed EXACTLY — the key identity is
    //      N_h·σ_h = isqrt(N_h·Σv² − (Σv)²), so the allocation weight
    //      needs one integer square root and no division. isqrt is the
    //      double-sqrt-plus-adjust form: for V < 2⁵³ the double
    //      represents V exactly and sqrt is correctly rounded, so the
    //      ±1 CASE adjustment makes floor(√V) exact in BOTH engines
    //      (values are price-thousandths to keep V = N·SS − S² inside
    //      the 2⁵³ bound at fixture-to-production stratum sizes; with
    //      vk ≲ 600, V = N·SS − S² crosses 2⁵³ near ~1e6 rows/stratum
    //      and the Long product N·SS overflows near ~5e6 — past either
    //      bound, widen vnum to DECIMAL(38,0) and extend the ±1 adjust,
    //      or rescale vk. ADVICE r8 corrected the earlier ~1e9 claim,
    //      which was off by three orders of magnitude). Budget 1000
    //      splits by largest-remainder rounding (exact integer
    //      remainders, stratum-name ties), capped at N_h. Selection is
    //      the smallest-n_h rows of the (hash, orderkey) total order per
    //      stratum, located by Quantiles.pairRankSelectBy — ONE
    //      distributed pass for all strata, never a per-stratum corpus
    //      sort (the oracle's plain partitioned row_number proves the
    //      rank boundaries exact). The trailing rows certify the
    //      estimator: zz_ht = Σ_h N_h·mean_h(sample) vs zz_true = Σx,
    //      with the error in ppm carried on zz_ht.
    ("q271_neyman_sample", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val base = graft.Stage.mat(Tables(s, dir).orders.select(
        col("o_orderpriority").as("g"), col("o_orderkey"),
        expr("CAST(floor(o_totalprice / 1000) AS BIGINT)").as("vk"),
        expr("CAST(floor(o_totalprice * 1000000) AS BIGINT)").as("x"),
        graft.text.TextStats.portableHash64(
          concat(lit("ny:"), col("o_orderkey").cast("string"))).as("h")))
      val per = base.groupBy(col("g")).agg(count(lit(1)).as("n_pop"),
        sum(col("vk")).as("sv"), sum(col("vk") * col("vk")).as("ssv"))
        .selectExpr("g", "n_pop", "n_pop * ssv - sv * sv AS vnum")
        .selectExpr("g", "n_pop",
          "CAST(floor(sqrt(CAST(vnum AS DOUBLE))) AS BIGINT) AS s0", "vnum")
        .selectExpr("g", "n_pop",
          """CASE WHEN (s0 + 1) * (s0 + 1) <= vnum THEN s0 + 1
                  WHEN s0 * s0 > vnum THEN s0 - 1 ELSE s0 END AS w_sigma""")
      val tot = per.agg(sum(col("w_sigma")).as("ww"))
      val alloc0 = per.crossJoin(broadcast(tot))
        .selectExpr("g", "n_pop", "w_sigma",
          "(1000 * w_sigma) DIV greatest(ww, 1) AS a0",
          "(1000 * w_sigma) % greatest(ww, 1) AS rem")
      val leftover = alloc0.agg((lit(1000L) - sum(col("a0"))).as("lv"))
      val alloc = alloc0.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("g"))).cast("long"))
        .selectExpr("g", "n_pop", "w_sigma",
          "least(a0 + CASE WHEN rk <= lv THEN 1 ELSE 0 END, n_pop) AS n_alloc")
        .transform(graft.Stage.mat)
      val ranks = alloc.selectExpr("g", "CAST(1 AS BIGINT) AS t",
        "n_alloc AS k")
      val bounds = Quantiles.pairRankSelectBy(
        base.select(col("g"), col("h"), col("o_orderkey")),
        "g", "h", "o_orderkey", ranks)
        .selectExpr("g", "bx", "bk")
      val est = base.join(broadcast(bounds), Seq("g"))
        .filter(col("h") < col("bx") ||
          (col("h") === col("bx") && col("o_orderkey") <= col("bk")))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n_got"), sum(col("x")).as("sx"))
      val rows = alloc.join(est, Seq("g"), "left")
        .selectExpr("g AS stratum", "n_pop", "w_sigma", "n_alloc",
          "coalesce(n_got, 0) AS n_got",
          """CAST(CAST(n_pop AS DECIMAL(38,0)) * coalesce(sx, 0)
                DIV greatest(coalesce(n_got, 0), 1) AS BIGINT) AS ht_micros""")
        .transform(graft.Stage.mat)
      val truth = base.agg(sum(col("x")).as("t_true"),
        count(lit(1)).as("n_all"))
      val zz = rows.crossJoin(broadcast(truth)).agg(
        max(col("t_true")).as("t_true"), max(col("n_all")).as("n_all"),
        sum(col("n_pop")).as("np"), sum(col("n_alloc")).as("na"),
        sum(col("n_got")).as("ng"), sum(col("ht_micros")).as("ht"))
        .selectExpr(
          "'zz_ht' AS stratum", "np AS n_pop",
          """CAST((abs(CAST(ht AS DECIMAL(38,0)) - t_true) * 1000000)
                DIV greatest(t_true, 1) AS BIGINT) AS w_sigma""",
          "na AS n_alloc", "ng AS n_got", "ht AS ht_micros",
          "t_true", "n_all")
      val zz1 = zz.selectExpr("stratum", "n_pop", "w_sigma", "n_alloc",
        "n_got", "ht_micros")
      val zz2 = zz.selectExpr("'zz_true' AS stratum", "n_all AS n_pop",
        "CAST(0 AS BIGINT) AS w_sigma", "CAST(0 AS BIGINT) AS n_alloc",
        "CAST(0 AS BIGINT) AS n_got", "t_true AS ht_micros")
      rows.unionByName(zz1).unionByName(zz2).orderBy(col("stratum"))
    }, Some {
      val keyH = graft.text.TextStats.portableHash64Sql(
        "concat('ny:', CAST(o_orderkey AS VARCHAR))")
      s"""
      WITH base AS (
        SELECT o_orderpriority AS g, o_orderkey,
               CAST(floor(o_totalprice / 1000) AS BIGINT) AS vk,
               CAST(floor(o_totalprice * 1000000) AS BIGINT) AS x,
               $keyH AS h
        FROM orders),
      per AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_pop,
               CAST(count(*) AS BIGINT) * SUM(vk * vk) - SUM(vk) * SUM(vk)
                 AS vnum
        FROM base GROUP BY g),
      sq AS (
        SELECT g, n_pop, vnum,
               CAST(floor(sqrt(CAST(vnum AS DOUBLE))) AS BIGINT) AS s0
        FROM per),
      ws AS (
        SELECT g, n_pop,
               CASE WHEN (s0 + 1) * (s0 + 1) <= vnum THEN s0 + 1
                    WHEN s0 * s0 > vnum THEN s0 - 1 ELSE s0 END AS w_sigma
        FROM sq),
      tot AS (SELECT CAST(SUM(w_sigma) AS BIGINT) AS ww FROM ws),
      alloc0 AS (
        SELECT g, n_pop, w_sigma,
               (1000 * w_sigma) // greatest(ww, 1) AS a0,
               (1000 * w_sigma) % greatest(ww, 1) AS rem
        FROM ws CROSS JOIN tot),
      lv AS (SELECT 1000 - CAST(SUM(a0) AS BIGINT) AS lv FROM alloc0),
      alloc AS (
        SELECT g, n_pop, w_sigma,
               least(a0 + CASE WHEN row_number()
                   OVER (ORDER BY rem DESC, g) <= lv THEN 1 ELSE 0 END,
                 n_pop) AS n_alloc
        FROM alloc0 CROSS JOIN lv),
      sel AS (
        SELECT b.g, b.x,
               row_number() OVER (PARTITION BY b.g ORDER BY b.h, b.o_orderkey)
                 AS rn, a.n_alloc
        FROM base b JOIN alloc a ON b.g = a.g),
      est AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_got,
               CAST(SUM(x) AS BIGINT) AS sx
        FROM sel WHERE rn <= n_alloc GROUP BY g),
      rows_ AS (
        SELECT a.g AS stratum, a.n_pop, a.w_sigma, a.n_alloc,
               coalesce(e.n_got, 0) AS n_got,
               CAST(CAST(a.n_pop AS HUGEINT) * coalesce(e.sx, 0)
                    // greatest(coalesce(e.n_got, 0), 1) AS BIGINT)
                 AS ht_micros
        FROM alloc a LEFT JOIN est e ON a.g = e.g),
      truth AS (SELECT CAST(SUM(x) AS BIGINT) AS t_true,
                       CAST(count(*) AS BIGINT) AS n_all FROM base),
      zz AS (
        SELECT CAST(SUM(n_pop) AS BIGINT) AS np,
               CAST(SUM(n_alloc) AS BIGINT) AS na,
               CAST(SUM(n_got) AS BIGINT) AS ng,
               CAST(SUM(ht_micros) AS BIGINT) AS ht,
               MAX(t_true) AS t_true, MAX(n_all) AS n_all
        FROM rows_ CROSS JOIN truth)
      SELECT stratum, n_pop, w_sigma, n_alloc, n_got, ht_micros FROM rows_
      UNION ALL
      SELECT 'zz_ht', np,
             CAST((abs(CAST(ht AS HUGEINT) - t_true) * 1000000)
                  // greatest(t_true, 1) AS BIGINT),
             na, ng, ht FROM zz
      UNION ALL
      SELECT 'zz_true', n_all, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), t_true FROM zz
      ORDER BY stratum"""
    }),

    // ---- quantile-sketch certification: Spark's percentile_approx
    //      (Greenwald-Khanna) at accuracy 1000 carries a rank-error
    //      contract of ±n/1000; this query CHECKS it — per (priority,
    //      p ∈ {50, 90, 99}) the sketch value must lie between the
    //      EXACT order statistics at ranks k ∓ (2n/1000 + 1) (2×
    //      headroom + ceil slack), located scale-safe by
    //      Quantiles.pairRankSelectBy in one grouped pass. The
    //      q41/q81/q84 certification-oracle pattern: the sketch value
    //      itself is algorithm-specific (DuckDB can't replay GK), so the
    //      hashed output carries the exact bounds and the BOOLEAN
    //      verdict, which the oracle computes as the same bounds plus
    //      literal TRUE — a hash match proves the sketch honored its
    //      contract at this scale. The governance table for "when is the
    //      ±ε sketch allowed instead of the exact q119 path".
    ("q276_sketch_cert", (s: SparkSession, dir: String) => {
      val base = graft.Stage.mat(Tables(s, dir).orders.select(
        col("o_orderpriority").as("g"), col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 1000000) AS BIGINT)").as("y")))
      val probes = base.groupBy(col("g")).agg(count(lit(1)).as("n"))
        .select(col("g"), col("n"),
          explode(expr("array(50L, 90L, 99L)")).as("p_pct"))
        .selectExpr("g", "n", "p_pct",
          "(n * p_pct + 99) DIV 100 AS kc", "(2 * n) DIV 1000 + 1 AS tol")
        .selectExpr("g", "n", "p_pct", "kc",
          "greatest(1, kc - tol) AS klo", "least(n, kc + tol) AS khi")
        .transform(graft.Stage.mat)
      val ranks = probes.selectExpr("g", "p_pct * 10 AS t", "klo AS k")
        .unionByName(probes.selectExpr("g", "p_pct * 10 + 1 AS t", "khi AS k"))
      val sel = Quantiles.pairRankSelectBy(base, "g", "y", "o_orderkey", ranks)
        .groupBy(col("g")).pivot("t",
          Seq(500, 501, 900, 901, 990, 991)).agg(max(col("bx")))
      val sketch = base.groupBy(col("g"))
        .agg(expr("percentile_approx(y, array(0.5D, 0.9D, 0.99D), 1000)")
          .as("sk"))
      probes.join(broadcast(sel), Seq("g")).join(broadcast(sketch), Seq("g"))
        .selectExpr("g AS grp", "p_pct", "n", "kc AS k_rank",
          """CASE p_pct WHEN 50 THEN `500` WHEN 90 THEN `900`
             ELSE `990` END AS lo_micros""",
          """CASE p_pct WHEN 50 THEN `501` WHEN 90 THEN `901`
             ELSE `991` END AS hi_micros""",
          """CASE p_pct WHEN 50 THEN sk[0] WHEN 90 THEN sk[1]
             ELSE sk[2] END AS skv""")
        .selectExpr("grp", "p_pct", "n", "k_rank", "lo_micros", "hi_micros",
          "skv >= lo_micros AND skv <= hi_micros AS within_bounds")
        .orderBy(col("grp"), col("p_pct"))
    }, Some("""
      WITH base AS (
        SELECT o_orderpriority AS g, o_orderkey,
               CAST(floor(o_totalprice * 1000000) AS BIGINT) AS y
        FROM orders),
      nn AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY g),
      probes AS (
        SELECT g, n, CAST(p_pct AS BIGINT) AS p_pct,
               (n * p_pct + 99) // 100 AS kc,
               (2 * n) // 1000 + 1 AS tol
        FROM nn CROSS JOIN (SELECT unnest([50, 90, 99]) AS p_pct)),
      pr AS (SELECT g, n, p_pct, kc,
                    greatest(1, kc - tol) AS klo, least(n, kc + tol) AS khi
             FROM probes),
      ranked AS (
        SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY y, o_orderkey)
                 AS rn
        FROM base),
      sel AS (
        SELECT pr.g, pr.p_pct, pr.n, pr.kc,
               MIN(CASE WHEN rn = klo THEN y END) AS lo_micros,
               MIN(CASE WHEN rn = khi THEN y END) AS hi_micros
        FROM pr JOIN ranked r ON pr.g = r.g AND (rn = klo OR rn = khi)
        GROUP BY pr.g, pr.p_pct, pr.n, pr.kc)
      SELECT g AS grp, p_pct, n, kc AS k_rank, lo_micros, hi_micros,
             TRUE AS within_bounds
      FROM sel ORDER BY grp, p_pct""")),

    // ---- Merkle-style bucketed table diff (anti-entropy reconciliation,
    //      the Dynamo/Cassandra repair primitive): two table versions
    //      reduce to 256 bucket fingerprints — (row count, exact
    //      DECIMAL sum of portable row hashes) per o_orderkey-range
    //      bucket — and ONLY unequal fingerprints need row-level
    //      comparison. Version B plants a deterministic corruption
    //      (rows whose row hash ≡ 0 mod 997 get price+1), so the output
    //      certifies soundness in-plan: per bucket the fingerprint
    //      verdict AND the true differing-row count, which the hash
    //      gate proves is 0 exactly where the fingerprints match (sum
    //      fingerprints can in principle collide; the planted-corruption
    //      audit measures that they didn't — and the zz row carries both
    //      totals so a collision would surface as flagged < diff-rows).
    //      At 100 TB this is how two replicas reconcile with one
    //      aggregate pass + a drill-down bounded by the damage, not the
    //      table.
    ("q279_merkle_diff", (s: SparkSession, dir: String) => {
      val base = graft.Stage.mat(Tables(s, dir).orders.select(
        col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 1000000) AS BIGINT)").as("v"))
        .withColumn("b", pmod(col("o_orderkey"), lit(256L)))
        .withColumn("corrupt",
          (graft.text.TextStats.portableHash64(
            concat(lit("mk:"), col("o_orderkey").cast("string"))) % 997L) === 0L))
      def fp(vc: String) = base
        .withColumn("rh", graft.text.TextStats.portableHash64(
          concat(col("o_orderkey").cast("string"), lit("|"),
            expr(vc).cast("string"))))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n"),
          sum(col("rh").cast("decimal(38,0)")).as("hsum"))
      val fa = fp("v")
      val fb = fp("CASE WHEN corrupt THEN v + 1 ELSE v END")
      val diffRows = base.groupBy(col("b"))
        .agg(sum(when(col("corrupt"), 1L).otherwise(0L)).as("n_diff"))
      val per = fa.selectExpr("b", "n AS n_a", "hsum AS h_a")
        .join(fb.selectExpr("b", "n AS n_b", "hsum AS h_b"), Seq("b"))
        .join(diffRows, Seq("b"))
        .selectExpr("b AS bucket", "n_a", "n_b",
          """CAST(CASE WHEN n_a = n_b AND h_a = h_b
                  THEN 1 ELSE 0 END AS BIGINT) AS fp_equal""",
          "n_diff")
        .transform(graft.Stage.mat)
      val zz = per.agg(count(lit(1)).as("nb"),
        sum(lit(1L) - col("fp_equal")).as("flagged"),
        sum(col("n_diff")).as("nd"), sum(col("n_a")).as("rows_a"))
        .selectExpr("CAST(-1 AS BIGINT) AS bucket", "rows_a AS n_a",
          "nb AS n_b", "flagged AS fp_equal", "nd AS n_diff")
      per.unionByName(zz).orderBy(col("bucket"))
    }, Some {
      val mkH = graft.text.TextStats.portableHash64Sql(
        "concat('mk:', CAST(o_orderkey AS VARCHAR))")
      def rowH(vc: String) = graft.text.TextStats.portableHash64Sql(
        s"concat(CAST(o_orderkey AS VARCHAR), '|', CAST($vc AS VARCHAR))")
      s"""
      WITH base AS (
        SELECT o_orderkey, CAST(floor(o_totalprice * 1000000) AS BIGINT) AS v,
               o_orderkey % 256 AS b,
               ($mkH % 997) = 0 AS corrupt
        FROM orders),
      fa AS (
        SELECT b, CAST(count(*) AS BIGINT) AS n_a,
               SUM(CAST(${rowH("v")} AS HUGEINT)) AS h_a
        FROM base GROUP BY b),
      fb AS (
        SELECT b, CAST(count(*) AS BIGINT) AS n_b,
               SUM(CAST(${rowH("CASE WHEN corrupt THEN v + 1 ELSE v END")}
                   AS HUGEINT)) AS h_b
        FROM base GROUP BY b),
      dr AS (
        SELECT b, CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_diff
        FROM base GROUP BY b),
      per AS (
        SELECT fa.b AS bucket, n_a, n_b,
               CAST(CASE WHEN n_a = n_b AND h_a = h_b
                    THEN 1 ELSE 0 END AS BIGINT) AS fp_equal,
               n_diff
        FROM fa JOIN fb ON fa.b = fb.b JOIN dr ON fa.b = dr.b)
      SELECT bucket, n_a, n_b, fp_equal, n_diff FROM per
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(SUM(n_a) AS BIGINT),
             CAST(count(*) AS BIGINT), CAST(SUM(1 - fp_equal) AS BIGINT),
             CAST(SUM(n_diff) AS BIGINT)
      FROM per
      ORDER BY bucket"""
    }),

    // ---- incremental-view-maintenance certification: the algebraic
    //      fact the engine's whole incremental design stands on (SNK1's
    //      foreachBatch merge, S5 sink-side state) is that count/sum/
    //      min/max are mergeable — agg(base ⊎ delta) = merge(agg(base),
    //      agg(delta)). This query CHECKS it per priority over a hash
    //      split: both paths computed in one plan, per-group equality
    //      flags hashed (the oracle emits the same aggregates and
    //      literal-true flags). A refactor that breaks merge semantics
    //      (e.g. a non-mergeable average folded naively) turns a column
    //      false and fails the gate — the regression test for
    //      incremental ETL, stated as data.
    ("q281_ivm_cert", (s: SparkSession, dir: String) => {
      val base = graft.Stage.mat(Tables(s, dir).orders.select(
        col("o_orderpriority").as("g"),
        expr("CAST(floor(o_totalprice * 1000000) AS BIGINT)").as("v"),
        (graft.text.TextStats.portableHash64(
          concat(lit("ivm:"), col("o_orderkey").cast("string"))) % 10L < 8L)
          .as("is_base")))
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy(col("g")).agg(count(lit(1)).as(s"n_$tag"),
          sum(col("v")).as(s"s_$tag"), min(col("v")).as(s"mn_$tag"),
          max(col("v")).as(s"mx_$tag"))
      val whole = agg(base, "w")
      // full outer + coalesce identities (ADVICE r8): a group whose rows
      // all hash to ONE split must still merge — with an inner join it
      // would vanish from the engine output while the oracle (which
      // aggregates the unsplit table) still emits it, failing the gate
      // spuriously. count/sum take 0 as the absent side; min/max take
      // the present side (least/greatest over coalesced pairs), the
      // identity-element form of the merge the certification certifies.
      val merged = agg(base.filter(col("is_base")), "b")
        .join(agg(base.filter(!col("is_base")), "d"), Seq("g"), "full_outer")
        .selectExpr("g",
          "coalesce(n_b, CAST(0 AS BIGINT)) + coalesce(n_d, CAST(0 AS BIGINT)) AS n_m",
          "coalesce(s_b, CAST(0 AS BIGINT)) + coalesce(s_d, CAST(0 AS BIGINT)) AS s_m",
          "least(coalesce(mn_b, mn_d), coalesce(mn_d, mn_b)) AS mn_m",
          "greatest(coalesce(mx_b, mx_d), coalesce(mx_d, mx_b)) AS mx_m")
      whole.join(merged, Seq("g"))
        .selectExpr("g AS grp", "n_w", "s_w", "mn_w", "mx_w",
          "n_w = n_m AND s_w = s_m AND mn_w = mn_m AND mx_w = mx_m AS merge_ok")
        .orderBy(col("grp"))
    }, Some {
      val h = graft.text.TextStats.portableHash64Sql(
        "concat('ivm:', CAST(o_orderkey AS VARCHAR))")
      s"""
      WITH base AS (
        SELECT o_orderpriority AS g,
               CAST(floor(o_totalprice * 1000000) AS BIGINT) AS v,
               ($h % 10) < 8 AS is_base
        FROM orders)
      SELECT g AS grp, CAST(count(*) AS BIGINT) AS n_w,
             CAST(SUM(v) AS BIGINT) AS s_w, MIN(v) AS mn_w, MAX(v) AS mx_w,
             TRUE AS merge_ok
      FROM base GROUP BY g ORDER BY grp"""
    }),

    // ---- JOIN-view incremental maintenance certificate — q281's
    //      companion for the harder view class: V = O ⋈ L aggregated
    //      per priority. Both inputs split base/delta by independent
    //      portable hashes, and the maintained view is the DELTA-JOIN
    //      identity (Blakeley et al. 1986):
    //        (O_b ∪ ΔO) ⋈ (L_b ∪ ΔL)
    //          = O_b⋈L_b ∪ O_b⋈ΔL ∪ ΔO⋈L_b ∪ ΔO⋈ΔL
    //      executed as FOUR separate equi-joins whose aggregates merge
    //      by re-aggregation (count/sum are identity-mergeable, so no
    //      full-outer coalesce ladder is needed — union the four part
    //      aggregates and fold). At 100 TB three of the four joins are
    //      delta-sized — the reason IVM beats recompute; the engine row
    //      carries merge_ok = (maintained ≡ recomputed) per group and
    //      the oracle recomputes the whole view, so a broken identity
    //      fails the gate as merge_ok=false vs TRUE.
    ("q319_join_ivm_cert", (s: SparkSession, dir: String) => {
      val o = graft.Stage.mat(Tables(s, dir).orders.select(
        col("o_orderkey").as("ok"), col("o_orderpriority").as("g"),
        (graft.text.TextStats.portableHash64(
          concat(lit("ivo:"), col("o_orderkey").cast("string"))) % 10L < 8L)
          .as("bo")))
      val l = graft.Stage.mat(Tables(s, dir).lineitem.select(
        col("l_orderkey").as("ok"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"),
        (graft.text.TextStats.portableHash64(
          concat(lit("ivl:"), col("l_orderkey").cast("string"),
            lit("-"), col("l_linenumber").cast("string"))) % 10L < 8L)
          .as("bl")))
      def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      val whole = agg(o.join(l, Seq("ok")))
        .selectExpr("g", "n AS n_w", "s AS s_w")
      val parts = Seq(
        (col("bo"), col("bl")), (col("bo"), !col("bl")),
        (!col("bo"), col("bl")), (!col("bo"), !col("bl")))
        .map { case (of, lf) => agg(o.filter(of).join(l.filter(lf), Seq("ok"))) }
        .reduce(_ unionByName _)
        .groupBy(col("g")).agg(sum(col("n")).as("n_m"), sum(col("s")).as("s_m"))
      whole.join(parts, Seq("g"))
        .selectExpr("g AS grp", "n_w", "s_w",
          "n_w = n_m AND s_w = s_m AS merge_ok")
        .orderBy(col("grp"))
    }, Some("""
      SELECT o.o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_w,
             CAST(SUM(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s_w,
             TRUE AS merge_ok
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderpriority ORDER BY grp""")),

    // ---- correlated-sampling join-cardinality estimator (the optimizer
    //      synopsis behind join reordering at 100 TB): sample BOTH sides
    //      by the SAME hash of the JOIN KEY at rate 1/16 — key-correlated
    //      sampling keeps entire key groups, so the sampled join count
    //      scales by 1/16 (not 1/256 as independent row samples would)
    //      and est = 16·|A_s ⋈ B_s| is unbiased (Vengerov et al. 2015).
    //      Self-certifying: the one row carries the estimate, the true
    //      |orders ⋈ lineitem| and the error in ppm. Everything is two
    //      hash-filtered map-side-combined aggregates plus the keyed
    //      join counts — the synopsis costs 1/16 of the join it prices.
    ("q282_join_cardinality_est", (s: SparkSession, dir: String) => {
      val kh = graft.text.TextStats.portableHash64(
        concat(lit("jc:"), col("k").cast("string"))) % 16L
      val o = Tables(s, dir).orders.select(col("o_orderkey").as("k"))
        .withColumn("hs", kh)
      val l = Tables(s, dir).lineitem.select(col("l_orderkey").as("k"))
        .withColumn("hs", kh)
      val cntTrue = o.join(l, Seq("k")).agg(count(lit(1)).as("n_true"))
      val cntS = o.filter(col("hs") === 0L).join(l.filter(col("hs") === 0L),
        Seq("k")).agg(count(lit(1)).as("n_sample"))
      cntTrue.crossJoin(broadcast(cntS))
        .selectExpr("n_true", "n_sample", "16 * n_sample AS n_est",
          """(abs(16 * n_sample - n_true) * 1000000)
             DIV greatest(n_true, 1) AS err_ppm""")
    }, Some {
      val h = graft.text.TextStats.portableHash64Sql(
        "concat('jc:', CAST(k AS VARCHAR))")
      s"""
      WITH o AS (SELECT o_orderkey AS k, $h % 16 AS hs FROM orders),
      l AS (SELECT l_orderkey AS k, $h % 16 AS hs FROM lineitem),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n_true
            FROM o JOIN l ON o.k = l.k),
      sm AS (SELECT CAST(count(*) AS BIGINT) AS n_sample
             FROM (SELECT k FROM o WHERE hs = 0) a
             JOIN (SELECT k FROM l WHERE hs = 0) b ON a.k = b.k)
      SELECT n_true, n_sample, 16 * n_sample AS n_est,
             (abs(16 * n_sample - n_true) * 1000000)
               // greatest(n_true, 1) AS err_ppm
      FROM t CROSS JOIN sm"""
    }),

    // ---- functional-dependency discovery (the Metanome/data-profiling
    //      primitive): candidate FD  lhs → rhs  holds iff
    //      ndv(lhs) = ndv(lhs, rhs) — one exact distinct-count pair per
    //      candidate over the orders table, including the violating-
    //      group count (#lhs groups with >1 rhs value) so "how broken"
    //      is quantified, not just boolean. Candidates cover the three
    //      interesting regimes: a true key (orderkey → custkey), a
    //      plausible-but-false dependency (custkey → orderpriority),
    //      and a domain-level accident check (orderpriority →
    //      orderstatus). Each candidate is one (lhs, rhs) dedup + one
    //      lhs aggregate — map-side combined, never a sort.
    ("q283_fd_discovery", (s: SparkSession, dir: String) => {
      val o = graft.Stage.mat(Tables(s, dir).orders.selectExpr(
        "CAST(o_orderkey AS STRING) AS orderkey",
        "CAST(o_custkey AS STRING) AS custkey",
        "o_orderpriority AS priority", "o_orderstatus AS status"))
      def fd(lhs: String, rhs: String) = o
        .select(col(lhs).as("l"), col(rhs).as("r")).distinct()
        .groupBy(col("l")).agg(count(lit(1)).as("nr"))
        .agg(count(lit(1)).as("ndv_lhs"), sum(col("nr")).as("ndv_pair"),
          sum(when(col("nr") > 1L, 1L).otherwise(0L)).as("n_violating"))
        .selectExpr(s"'$lhs->$rhs' AS fd", "ndv_lhs", "ndv_pair",
          "n_violating", "ndv_lhs = ndv_pair AS holds")
      fd("orderkey", "custkey")
        .unionByName(fd("custkey", "priority"))
        .unionByName(fd("priority", "status"))
        .orderBy(col("fd"))
    }, Some("""
      WITH o AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS orderkey,
               CAST(o_custkey AS VARCHAR) AS custkey,
               o_orderpriority AS priority, o_orderstatus AS status
        FROM orders),
      c1 AS (SELECT 'orderkey->custkey' AS fd, l, CAST(count(*) AS BIGINT) AS nr
             FROM (SELECT DISTINCT orderkey AS l, custkey AS r FROM o) GROUP BY l),
      c2 AS (SELECT 'custkey->priority' AS fd, l, CAST(count(*) AS BIGINT) AS nr
             FROM (SELECT DISTINCT custkey AS l, priority AS r FROM o) GROUP BY l),
      c3 AS (SELECT 'priority->status' AS fd, l, CAST(count(*) AS BIGINT) AS nr
             FROM (SELECT DISTINCT priority AS l, status AS r FROM o) GROUP BY l),
      allc AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL
               SELECT * FROM c3)
      SELECT fd, CAST(count(*) AS BIGINT) AS ndv_lhs,
             CAST(SUM(nr) AS BIGINT) AS ndv_pair,
             CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             count(*) = SUM(nr) AS holds
      FROM allc GROUP BY fd ORDER BY fd""")),

    // ---- consistent-hashing ring rebalance certification (Karger et
    //      al. 1997; the Dynamo partitioning scheme): keys and 8 vnodes
    //      per node live on a 2⁶⁰ ring (the portable hash's range);
    //      owner = the vnode at minimal clockwise distance
    //      (vpos − pos) mod 2⁶⁰, ties on node name. The query assigns
    //      every order key under N = 4 nodes and again under N = 5, and
    //      certifies THE property consistent hashing exists for: only
    //      ~1/5 of keys move when a node joins (zz row carries the
    //      measured moved_ppm next to the 200000 expectation), versus
    //      mod-N hashing's ~4/5. Per-node shares document the 8-vnode
    //      balance. Both ownership maps are one broadcast join of the
    //      ≤40-row vnode table + a per-key min-struct aggregate —
    //      map-side combined, no window, no sort.
    ("q291_consistent_hashing", (s: SparkSession, dir: String) => {
      val ring = 1152921504606846976L // 2^60 = the 15-hex-digit hash range
      // vnode ring positions are md5-of-literal constants — computable
      // at PLAN time (same bytes Spark's md5() and DuckDB's md5() hash),
      // so ownership is a pure 40-term least(struct) PROJECTION: no
      // join, no shuffle, one pass over the keys. This is also the
      // deployment shape — a router holds the ring table in memory and
      // maps keys without touching other partitions. (The first cut
      // broadcast-joined a vnode DataFrame: BroadcastNestedLoopJoin,
      // no codegen, 12 s of task CPU for what is a projection.)
      def vlit(n: Int): Seq[(String, Long)] =
        for (node <- 0 until n; j <- 0 until 8) yield {
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(s"vn:n$node:${node * 8 + j}".getBytes("UTF-8"))
          (s"n$node",
            java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.take(15), 16))
        }
      def owner(vs: Seq[(String, Long)]): Column =
        least(vs.map { case (nd, vp) =>
          struct(pmod(lit(vp) - col("pos"), lit(ring)).as("delta"),
            lit(nd).as("node"))
        }: _*).getField("node")
      val both = Tables(s, dir).orders.select(
        col("o_orderkey"),
        graft.text.TextStats.portableHash64(
          concat(lit("ring:"), col("o_orderkey").cast("string"))).as("pos"))
        .select(col("o_orderkey"), owner(vlit(4)).as("owner_a"),
          owner(vlit(5)).as("owner_b"))
      val per = both.groupBy(col("owner_b").as("node"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("owner_a") =!= col("owner_b"), 1L).otherwise(0L))
            .as("n_moved"))
      val tot = per.agg(sum(col("n_keys")).as("nk"), sum(col("n_moved")).as("nm"))
      val rows = per.crossJoin(broadcast(tot))
        .selectExpr("node", "n_keys", "(n_keys * 1000000) DIV nk AS share_ppm",
          "n_moved")
      val zz = tot.selectExpr("'zz_moved' AS node", "nm AS n_keys",
        "(nm * 1000000) DIV nk AS share_ppm", "nm AS n_moved")
      rows.unionByName(zz).orderBy(col("node"))
    }, Some {
      def h(e: String) = graft.text.TextStats.portableHash64Sql(e)
      s"""
      WITH keys AS (
        SELECT o_orderkey,
               ${h("concat('ring:', CAST(o_orderkey AS VARCHAR))")} AS pos
        FROM orders),
      vn AS (
        SELECT 'n' || CAST(nd AS VARCHAR) AS node,
               ${h("concat('vn:n', CAST(nd AS VARCHAR), ':', CAST(nd * 8 + j AS VARCHAR))")}
                 AS vpos
        FROM (SELECT unnest(range(0, 5)) AS nd)
        CROSS JOIN (SELECT unnest(range(0, 8)) AS j)),
      ca AS (
        SELECT k.o_orderkey, v.node,
               ((v.vpos - k.pos) % 1152921504606846976
                + 1152921504606846976) % 1152921504606846976 AS delta
        FROM keys k CROSS JOIN (SELECT * FROM vn WHERE node <> 'n4') v),
      oa AS (
        SELECT o_orderkey, node AS owner_a FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                       ORDER BY delta, node) AS rn
          FROM ca) WHERE rn = 1),
      cb AS (
        SELECT k.o_orderkey, v.node,
               ((v.vpos - k.pos) % 1152921504606846976
                + 1152921504606846976) % 1152921504606846976 AS delta
        FROM keys k CROSS JOIN vn v),
      ob AS (
        SELECT o_orderkey, node AS owner_b FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                       ORDER BY delta, node) AS rn
          FROM cb) WHERE rn = 1),
      bt AS (SELECT oa.o_orderkey, owner_a, owner_b
             FROM oa JOIN ob ON oa.o_orderkey = ob.o_orderkey),
      per AS (
        SELECT owner_b AS node, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN owner_a <> owner_b THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_moved
        FROM bt GROUP BY owner_b),
      tot AS (SELECT CAST(SUM(n_keys) AS BIGINT) AS nk,
                     CAST(SUM(n_moved) AS BIGINT) AS nm FROM per)
      SELECT node, n_keys, (n_keys * 1000000) // nk AS share_ppm, n_moved
      FROM per CROSS JOIN tot
      UNION ALL
      SELECT 'zz_moved', nm, (nm * 1000000) // nk, nm FROM tot
      ORDER BY node"""
    }),

    // ---- sequence completeness audit (gaps and islands over a key
    //      sequence): is the o_orderkey space contiguous, and where are
    //      the holes? The ledger/billing completeness check — missing
    //      count, island count, and the LARGEST gap with its start.
    //      Scale-safe decomposition: keys bucket into 1024 value
    //      ranges; within-bucket adjacent gaps ride PARTITIONed lag
    //      windows, cross-bucket gaps ride one window over the ≤1024
    //      nonempty-bucket table (min/max/count per bucket), and the
    //      two gap families union before one max-selection — no global
    //      sort of the key space anywhere. n_missing = span − n_keys
    //      is a pure aggregate identity and cross-checks the summed
    //      gap lengths in-plan (the hashed columns carry both).
    //      Output: one row (n_keys, key_min, key_max, n_missing,
    //      n_islands, gap_start, gap_len).
    ("q295_sequence_gaps", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val keys = Tables(s, dir).orders.select(col("o_orderkey").as("k")).distinct()
      val st = keys.agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
        count(lit(1)).as("n_keys"))
      val bucketed = graft.Stage.mat(keys.crossJoin(broadcast(st))
        .withColumn("b", expr("((k - mn) * 1024) DIV (mx - mn + 1)")))
      val wIn = Window.partitionBy(col("b")).orderBy(col("k"))
      val inGaps = bucketed
        .withColumn("pk", lag(col("k"), 1).over(wIn))
        .filter(col("pk").isNotNull && col("k") - col("pk") > 1L)
        .select((col("pk") + 1L).as("gap_start"),
          (col("k") - col("pk") - 1L).as("gap_len"))
      val bstats = bucketed.groupBy(col("b"))
        .agg(min(col("k")).as("bmn"), max(col("k")).as("bmx"))
      val wB = Window.orderBy(col("b"))
      val crossGaps = bstats
        .withColumn("pmx", lag(col("bmx"), 1).over(wB))
        .filter(col("pmx").isNotNull && col("bmn") - col("pmx") > 1L)
        .select((col("pmx") + 1L).as("gap_start"),
          (col("bmn") - col("pmx") - 1L).as("gap_len"))
      val gaps = graft.Stage.mat(inGaps.unionByName(crossGaps))
      val gagg = gaps.agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_len")).as("missing_sum"),
        max(struct(col("gap_len"), col("gap_start"))).as("mg"))
      st.crossJoin(broadcast(gagg))
        .selectExpr("n_keys", "mn AS key_min", "mx AS key_max",
          "(mx - mn + 1) - n_keys AS n_missing",
          "n_gaps + 1 AS n_islands",
          "coalesce(mg.gap_start, -1) AS gap_start",
          "coalesce(mg.gap_len, 0) AS gap_len",
          """CAST(CASE WHEN coalesce(missing_sum, 0) = (mx - mn + 1) - n_keys
                  THEN 1 ELSE 0 END AS BIGINT) AS sum_check""")
    }, Some("""
      WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
      st AS (SELECT MIN(k) AS mn, MAX(k) AS mx, CAST(count(*) AS BIGINT) AS n_keys
             FROM keys),
      ordered AS (
        SELECT k, lag(k, 1) OVER (ORDER BY k) AS pk FROM keys),
      gaps AS (
        SELECT pk + 1 AS gap_start, k - pk - 1 AS gap_len
        FROM ordered WHERE pk IS NOT NULL AND k - pk > 1),
      gagg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(SUM(gap_len) AS BIGINT) AS missing_sum,
               MAX({'gap_len': gap_len, 'gap_start': gap_start}) AS mg
        FROM gaps)
      SELECT n_keys, mn AS key_min, mx AS key_max,
             (mx - mn + 1) - n_keys AS n_missing,
             n_gaps + 1 AS n_islands,
             coalesce(mg.gap_start, -1) AS gap_start,
             coalesce(mg.gap_len, 0) AS gap_len,
             CAST(CASE WHEN coalesce(missing_sum, 0) = (mx - mn + 1) - n_keys
                  THEN 1 ELSE 0 END AS BIGINT) AS sum_check
      FROM st CROSS JOIN gagg""")),

    // ---- prefix-filtered EXACT Jaccard similarity join (AllPairs/
    //      PPJoin): the deterministic scale path for thresholds below
    //      the banded-MinHash cutoff. The oracle is the exact all-pairs
    //      Jaccard over string shingles — the prefix filter provably
    //      generates a candidate superset (Bayardo 2007 theorem), and
    //      verification is exact, so the outputs must match EXACTLY,
    //      unlike the probabilistic q37 whose equality holds only up to
    //      a 1e-12 band-miss bound. xxhash64 shingle keys vs string
    //      shingles is the q37 collision argument (≈2⁻⁶⁴ per pair).
    ("q91_jaccard_join", (s: SparkSession, dir: String) => {
      Dedup.jaccardJoinPrefix(Tables(s, dir).documents, threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("jaccard_r"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH sh AS (
        SELECT doc_id AS id,
               CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                    ELSE list_distinct(list_transform(
                      range(1, greatest(len(toks) - 2, 1) + 1),
                      i -> array_to_string(toks[i:i+2], ' '))) END AS s
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '$ws+'), t -> t <> '') AS toks
              FROM documents))
      SELECT a.id AS id_a, b.id AS id_b,
             round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 9) AS jaccard_r
      FROM sh a, sh b WHERE a.id < b.id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.4
      ORDER BY id_a, id_b""")),

    // ---- Bloom-filter decontamination with a no-false-negative
    //      certification (the q42 playbook: approximate operator +
    //      exact contract columns). The production path is the pure
    //      Bloom probe (Bloom.bloomContaminationFlag — no join against
    //      the reference set at all); the declared query ALSO runs the
    //      exact broadcast-join count (q55's shape) and certifies the
    //      sketch's defining guarantee per document: bloom hits >= exact
    //      hits (a Bloom filter can never miss a true member). The
    //      oracle replays the exact side in SQL and pins ok_no_fn TRUE;
    //      the false-positive RATE (statistical, fpp-bound) is pinned by
    //      BloomSpec, not the oracle.
    ("q92_bloom_decontam", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents
      val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val benchmark = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val bsh = benchmark
        .select(explode(Dedup.shingleHashes(col("text"), 3)).as("sh"))
        .distinct().transform(graft.Stage.mat)
      val bloom = graft.text.Bloom.buildLongBloom(bsh, "sh", fpp = 0.001)
      val csh = corpus.select(col("doc_id").as("id"),
        explode(Dedup.shingleHashes(col("text"), 3)).as("sh"))
        .transform(graft.Stage.mat)
      val bloomHits = csh.filter(graft.text.Bloom.mightContain(bloom, col("sh")))
        .groupBy(col("id")).agg(count(lit(1)).as("n_bloom"))
      val exactHits = csh.join(broadcast(bsh), Seq("sh"))
        .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
      corpus.select(col("doc_id").as("id"))
        .join(bloomHits, Seq("id"), "left")
        .join(exactHits, Seq("id"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"),
          (coalesce(col("n_bloom"), lit(0L)) >= coalesce(col("n_shared"), lit(0L)))
            .as("ok_no_fn"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH b AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(lower(text), '$ws+')) - 2, 1) + 1),
          i -> array_to_string(regexp_split_to_array(lower(text), '$ws+')[i:i+2], ' ')))) AS sh
        FROM documents WHERE doc_id % 50 = 0),
      c AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(lower(text), '$ws+')) - 2, 1) + 1),
          i -> array_to_string(regexp_split_to_array(lower(text), '$ws+')[i:i+2], ' ')))) AS sh
        FROM documents WHERE doc_id % 50 <> 0),
      h AS (SELECT doc_id, count(*) AS n_shared FROM c JOIN b USING (sh) GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
        COALESCE(h.n_shared, 0) > 0 AS contaminated,
        TRUE AS ok_no_fn
      FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""")),

    // ---- heavy hitters via a mergeable Misra-Gries sketch, certified
    //      against exact counts (the q42 playbook). The sketch is a
    //      constant-size aggregation buffer (capacity 256) whose merge
    //      runs in the partial-aggregate tree — at trillion-gram
    //      vocabularies the exact groupBy's shuffle is the bottleneck
    //      and the sketch replaces it with 256 entries per partition.
    //      The declared query runs BOTH paths and certifies the MG
    //      deviation contract on the exact top-20 at the sketch's OWN
    //      documented bound N/(capacity+1): every token with exact
    //      count > N/(cap+1) is present, and the estimate is within
    //      [exact − N/(cap+1), exact]. The oracle replays the exact
    //      side and pins both certs TRUE.
    ("q93_heavy_hitters", (s: SparkSession, dir: String) => {
      val cap = 256
      val toks = Tables(s, dir).documents
        .select(explode(TextStats.tokens(lower(col("text")))).as("tok"))
        .filter(col("tok") =!= "")
      val sketch = toks
        .agg(graft.catalyst.GraftFunctions.misraGriesTopK(col("tok"), cap).as("mg"))
        .select(explode(col("mg")).as(Seq("tok", "est")))
      val total = toks.agg(count(lit(1)).as("n_total"))
      toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
        .join(broadcast(sketch), Seq("tok"), "left")
        .crossJoin(broadcast(total))
        .select(col("tok"), col("n_exact"),
          (col("est").isNotNull ||
            col("n_exact") * (cap + 1) <= col("n_total")).as("present_ok"),
          (coalesce(col("est"), lit(0L)) <= col("n_exact") &&
            (col("n_exact") - coalesce(col("est"), lit(0L))) * (cap + 1) <= col("n_total"))
            .as("err_ok"))
        .orderBy(col("n_exact").desc, col("tok"))
        .limit(20)
    }, Some(s"""
      WITH t AS (
        SELECT unnest(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                                  x -> x <> '')) AS tok
        FROM documents)
      SELECT tok, CAST(count(*) AS BIGINT) AS n_exact,
             TRUE AS present_ok, TRUE AS err_ok
      FROM t GROUP BY tok
      ORDER BY n_exact DESC, tok LIMIT 20""")),

    // ---- PMI collocations (Church & Hanks): top adjacent word pairs
    //      by pointwise mutual information, min pair count 5. The score
    //      is one mirrored IEEE double chain over exact integer counts
    //      snapped round-6 (the q65 lp discipline), so the oracle
    //      recomputes the values bit-for-bit; ties at a rounded score
    //      break on (w1, w2).
    ("q94_pmi_collocations", (s: SparkSession, dir: String) => {
      graft.text.Vocab.pmiCollocations(Tables(s, dir).documents, minCount = 5)
        .orderBy(col("pmi_r").desc, col("w1"), col("w2"))
        .limit(50)
    }, Some(s"""
      WITH t AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '$ws+'),
                           x -> x <> '') AS toks
        FROM documents),
      u AS (SELECT unnest(toks) AS w FROM t),
      uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM u GROUP BY w),
      tot1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM u),
      i AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                 j -> struct_pack(w1 := toks[j], w2 := toks[j + 1]))) AS pr
        FROM t WHERE len(toks) >= 2),
      bc AS (
        SELECT pr.w1 AS w1, pr.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
        FROM i GROUP BY 1, 2 HAVING count(*) >= 5),
      tot2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM i)
      SELECT w1, w2, c12,
             round(ln((CAST(c12 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))
                      / (CAST(n2 AS DOUBLE) * CAST(a.cu AS DOUBLE) * CAST(b.cu AS DOUBLE))),
                   6) AS pmi_r
      FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w, tot1, tot2
      ORDER BY pmi_r DESC, w1, w2 LIMIT 50""")),

    // ---- DSIR importance weights (hashed-unigram target/raw likelihood
    //      ratio): target = the English slice, raw = the whole corpus.
    //      Every input to the score is an exact integer count; the
    //      bucket log-ratio is one mirrored IEEE chain snapped round-6
    //      and the per-doc sum runs in DECIMAL(25,6), so the oracle
    //      replays every weight bit-for-bit through the md5-portable
    //      bucket hash.
    ("q95_dsir_weights", (s: SparkSession, dir: String) => {
      Sampling.dsirLogWeights(Tables(s, dir).documents,
          isTarget = col("lang") === "en", buckets = 512)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tb AS (
        SELECT doc_id, lang = 'en' AS is_target,
               ${TextStats.portableHash64Sql("w")} % 512 AS b
        FROM (SELECT doc_id, lang,
                     unnest(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                                        x -> x <> '')) AS w
              FROM documents)),
      raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY b),
      tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb WHERE is_target GROUP BY b),
      tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tb) AS nr,
                     (SELECT CAST(count(*) AS BIGINT) FROM tb WHERE is_target) AS nt),
      lr AS (
        SELECT raw.b,
               round(ln(((CAST(COALESCE(tgt.ct, 0) AS DOUBLE) + 1.0)
                           * (CAST(tot.nr AS DOUBLE) + 512.0))
                        / ((CAST(raw.cr AS DOUBLE) + 1.0)
                           * (CAST(tot.nt AS DOUBLE) + 512.0))), 6) AS lr
        FROM raw LEFT JOIN tgt USING (b), tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(CAST(SUM(CAST(lr AS DECIMAL(25,6))) AS DOUBLE), 6) AS logw_r,
             round(CAST(SUM(CAST(lr AS DECIMAL(25,6))) AS DOUBLE), 6) > 0.0 AS keep
      FROM tb JOIN lr USING (b)
      GROUP BY doc_id ORDER BY doc_id""")),

    // ---- effective sample size of the q95 DSIR importance weights
    //      (Kong 1992): ESS = (Σw)²/Σw² with w = exp(logw). THE audit
    //      that must accompany any importance-weighted statistic — an
    //      ESS collapsing toward 1 says a handful of documents carry
    //      the whole reweighted corpus and every downstream estimate is
    //      noise. Float discipline: each doc's w and w² are one exp /
    //      one product from the hash-verified q95 logw, rounded to 9
    //      places (identical IEEE in both engines), summed as
    //      DECIMAL(30,9); the final ratio and the ESS/n fraction are
    //      single double ops on those identical sums. One extra
    //      aggregate over the q95 output — nothing new shuffles.
    ("q187_ess", (s: SparkSession, dir: String) => {
      Sampling.dsirLogWeights(Tables(s, dir).documents,
          isTarget = col("lang") === "en", buckets = 512)
        .selectExpr("round(exp(logw_r), 9) AS w")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w").cast("decimal(30,9)")).as("sw"),
          sum(expr("CAST(round(w * w, 9) AS DECIMAL(30,9))")).as("sw2"))
        .selectExpr("n_docs",
          "round(CAST(sw AS DOUBLE), 6) AS sum_w_r",
          """round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                   / CAST(sw2 AS DOUBLE), 6) AS ess_r""",
          """round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                   / CAST(sw2 AS DOUBLE) / n_docs, 6) AS ess_frac_r""")
    }, Some(s"""
      WITH tb AS (
        SELECT doc_id, lang = 'en' AS is_target,
               ${TextStats.portableHash64Sql("w")} % 512 AS b
        FROM (SELECT doc_id, lang,
                     unnest(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                                        x -> x <> '')) AS w
              FROM documents)),
      raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY b),
      tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb WHERE is_target GROUP BY b),
      tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tb) AS nr,
                     (SELECT CAST(count(*) AS BIGINT) FROM tb WHERE is_target) AS nt),
      lr AS (
        SELECT raw.b,
               round(ln(((CAST(COALESCE(tgt.ct, 0) AS DOUBLE) + 1.0)
                           * (CAST(tot.nr AS DOUBLE) + 512.0))
                        / ((CAST(raw.cr AS DOUBLE) + 1.0)
                           * (CAST(tot.nt AS DOUBLE) + 512.0))), 6) AS lr
        FROM raw LEFT JOIN tgt USING (b), tot),
      docw AS (
        SELECT doc_id,
               round(exp(round(CAST(SUM(CAST(lr AS DECIMAL(25,6))) AS DOUBLE), 6)), 9) AS w
        FROM tb JOIN lr USING (b) GROUP BY doc_id),
      sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               SUM(CAST(w AS DECIMAL(30,9))) AS sw,
               SUM(CAST(round(w * w, 9) AS DECIMAL(30,9))) AS sw2
        FROM docw)
      SELECT n_docs,
             round(CAST(sw AS DOUBLE), 6) AS sum_w_r,
             round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                   / CAST(sw2 AS DOUBLE), 6) AS ess_r,
             round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                   / CAST(sw2 AS DOUBLE) / n_docs, 6) AS ess_frac_r
      FROM sums""")),

    // ---- training-shard manifest: documents walk the deterministic
    //      q86 permutation, shards cut at a 2048-token budget, and each
    //      shard's manifest row carries counts, the position range, and
    //      an order-free fingerprint-xor checksum. The oracle replays
    //      the permutation AND the running token offset with plain
    //      global windows — equality proves the two-phase bucket
    //      decomposition is the exact global prefix sum (the q58/q86
    //      argument, composed).
    ("q96_shard_manifest", (s: SparkSession, dir: String) => {
      graft.text.Packing.shardManifest(Tables(s, dir).documents, tokensPerShard = 2048L)
        .orderBy(col("shard_id"))
    }, Some(s"""
      WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS n_tokens,
               ${TextStats.fingerprintSql("text")} AS fp,
               ${TextStats.portableHash64Sql("concat('shuffle:', CAST(doc_id AS VARCHAR))")} AS k
        FROM documents),
      o AS (
        SELECT doc_id, n_tokens, fp,
               CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS pos
        FROM t),
      s AS (
        SELECT doc_id, n_tokens, fp, pos,
               COALESCE(SUM(n_tokens) OVER (ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
        FROM o)
      SELECT CAST(start_offset // 2048 AS BIGINT) AS shard_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
             CAST(MIN(pos) AS BIGINT) AS first_pos,
             CAST(MAX(pos) AS BIGINT) AS last_pos,
             bit_xor(fp) AS fp_xor
      FROM s GROUP BY 1 ORDER BY shard_id""")),

    // ---- dedup-cluster representative selection: keep the LONGEST
    //      copy per near-dup cluster (token count, doc_id tiebreak) —
    //      the q57 composition taken to its decision. Pairs come from
    //      banded MinHash at 0.8 (16 one-row bands ⇒ miss <= 6.6e-12,
    //      the q37 equality argument), so the oracle rebuilds the same
    //      clusters by recursive-CTE transitive closure over exact
    //      all-pairs Jaccard and replays the argmax with a window. The
    //      score is an integer token count — no float parity surface.
    ("q97_cluster_keep", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents.filter(col("doc_id") < 500)
      val pairs = Dedup.minhashNearDups(docs, threshold = 0.8,
        numHashes = 16, bands = 16)
      Dedup.selectRepresentatives(docs, pairs,
          score = TextStats.tokenCount(col("text")).cast("long"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id AS id,
               CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                    ELSE list_distinct(list_transform(
                      range(1, greatest(len(toks) - 2, 1) + 1),
                      i -> array_to_string(toks[i:i+2], ' '))) END AS s
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '$ws+'), t -> t <> '') AS toks
              FROM documents WHERE doc_id < 500)),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b FROM sh a, sh b
        WHERE a.id < b.id
          AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.8),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(n, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.n = e.src),
      labels AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n),
      d AS (
        SELECT doc_id,
               COALESCE(l.cluster_id, doc_id) AS cluster_id,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS score
        FROM documents LEFT JOIN labels l USING (doc_id)
        WHERE doc_id < 500)
      SELECT doc_id, cluster_id, score,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY score DESC, doc_id) = 1 AS keep
      FROM d ORDER BY doc_id""")),

    // ---- corpus snapshot delta: two overlapping 90% slices of the
    //      fixture stand in for consecutive crawl snapshots; the diff
    //      keys on the portable content fingerprint, so the oracle
    //      replays the full comparison value-for-value.
    ("q98_snapshot_delta", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents
      Dedup.snapshotDelta(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 3),
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 7))
        .orderBy(col("source"))
    }, Some(s"""
      WITH o AS (
        SELECT DISTINCT ${TextStats.fingerprintSql("text")} AS fp,
               source
        FROM documents WHERE doc_id % 10 <> 3),
      n AS (
        SELECT DISTINCT ${TextStats.fingerprintSql("text")} AS fp,
               source
        FROM documents WHERE doc_id % 10 <> 7),
      j AS (
        SELECT COALESCE(o.source, n.source) AS source,
               o.fp IS NOT NULL AS in_old, n.fp IS NOT NULL AS in_new
        FROM o FULL JOIN n ON o.fp = n.fp AND o.source = n.source)
      SELECT source,
             CAST(SUM(CASE WHEN NOT in_old THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             CAST(SUM(CASE WHEN NOT in_new THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             CAST(SUM(CASE WHEN in_old AND in_new THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
      FROM j GROUP BY source ORDER BY source""")),

    // ---- robust (CCNet-normalization) dedup: reprints of every
    //      fixture doc with injected page counters/punctuation must
    //      collapse onto their originals under the digit/punct-stripping
    //      fingerprint (every cluster lands n_copies=2 — the value-level
    //      proof the normalization merges what it should), while plain
    //      exact dedup (q30) keeps them apart. Grouping keys on the
    //      md5-portable hash; the oracle groups the literal normalized
    //      string.
    ("q99_robust_dedup", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val reprints = docs.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" -- "), col("doc_id").cast("string"),
          lit(" / 500 --")).as("text"))
      docs.unionByName(reprints)
        .groupBy(TextStats.robustFingerprint(col("text")).as("rfp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    }, Some(s"""
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000,
               concat(text, ' -- ', CAST(doc_id AS VARCHAR), ' / 500 --')
        FROM documents)
      SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM all_docs
      GROUP BY array_to_string(list_filter(regexp_split_to_array(
        regexp_replace(regexp_replace(lower(text), '[0-9]+', '', 'g'),
                       '[^a-z${TextStats.wsCharsSql}]', '', 'g'),
        '$ws+'), x -> x <> ''), ' ')
      ORDER BY keep_id""")),

    // ---- weighted priority sample (Efraimidis–Spirakis): a
    //      100-document draw ∝ token count with deterministic
    //      portable-hash clocks. Integer buckets and weights, one
    //      mirrored IEEE clock chain snapped round-9 — the oracle
    //      replays every clock and the top-100 cut exactly.
    ("q100_priority_sample", (s: SparkSession, dir: String) => {
      Sampling.prioritySample(
          Tables(s, dir).documents
            .select(col("doc_id"), TextStats.tokenCount(col("text")).cast("long").as("n_tokens")),
          weight = col("n_tokens"), n = 100)
        .select(col("doc_id"), col("n_tokens"), col("clock_r"))
        .orderBy(col("clock_r"), col("doc_id"))
    }, Some(s"""
      WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS n_tokens,
               ${Sampling.hashBucketNSql("doc_id", "prio", 1000000L)} AS b
        FROM documents)
      SELECT doc_id, n_tokens,
             round(-ln((CAST(b AS DOUBLE) + 0.5) / 1000000.0)
                   / CAST(n_tokens AS DOUBLE), 9) AS clock_r
      FROM t ORDER BY clock_r, doc_id LIMIT 100""")),

    // ---- priority-sampling estimator (Duffield–Lund–Thorup 2007):
    //      the q100 sampling loop CLOSED — a 100-item priority sample
    //      (priorities q = w/u on the deterministic hash-uniform grid,
    //      round-9 snapped; τ = the 101st priority) estimating the
    //      population token total as Σ max(w_i, τ), the DLT unbiased
    //      threshold estimator. Self-certifying: the estimate ships
    //      beside the true total and the error in ppm, so the
    //      correctness gate pins the whole chain (sample membership,
    //      threshold, estimator arithmetic) and the row itself
    //      demonstrates the estimator's accuracy at the fixture scale.
    //      Doubles appear only in the snapped priority and the one
    //      floor(max(w, τ)·1e6) per sampled row — identical IEEE ops
    //      both engines (q100 discipline); sums are integer micros.
    //      BIGINT holds true_total·1e6 below ~9.2e12 tokens; swap the
    //      products to DECIMAL(38,0) beyond (the q259 note).
    //
    //      Scale shape: one corpus pass for priorities + a TakeOrdered
    //      top-101; the estimator runs on the 100-row sample. At any
    //      corpus size the only fact-scaled work is the scan.
    ("q262_priority_estimator", (s: SparkSession, dir: String) => {
      val t = Tables(s, dir).documents
        .select(col("doc_id"), TextStats.tokenCount(col("text")).cast("long").as("w"))
        .filter(col("doc_id").isNotNull && col("w") > 0)
        .withColumn("q_r", round(col("w").cast("double") /
          ((Sampling.hashBucketN(col("doc_id"), "prio", 1000000L).cast("double") + 0.5)
            / 1000000.0), 9))
        .transform(graft.Stage.mat) // feeds top-101 AND the true total
      val top = graft.Stage.mat(
        t.orderBy(col("q_r").desc, col("doc_id")).limit(101))
      val tau = top.orderBy(col("q_r"), col("doc_id")).limit(1)
        .selectExpr("q_r AS tau_r")
      val est = top.orderBy(col("q_r").desc, col("doc_id")).limit(100)
        .crossJoin(broadcast(tau))
        .selectExpr(
          "CAST(floor(greatest(CAST(w AS DOUBLE), tau_r) * 1000000) AS BIGINT) AS c_micros")
        .agg(count(lit(1)).as("n_sample"), sum(col("c_micros")).as("est_total_micros"))
      est.crossJoin(broadcast(t.agg(sum(col("w")).as("tt"))))
        .selectExpr("n_sample", "est_total_micros",
          "tt * 1000000 AS true_total_micros",
          "abs(est_total_micros - tt * 1000000) * 1000000 DIV (tt * 1000000) AS abs_err_ppm")
    }, Some(s"""
      WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS w,
               round(CAST(len(regexp_split_to_array(text, '$ws+')) AS DOUBLE)
                     / ((CAST(${Sampling.hashBucketNSql("doc_id", "prio", 1000000L)} AS DOUBLE) + 0.5)
                        / 1000000.0), 9) AS q_r
        FROM documents
        WHERE doc_id IS NOT NULL
          AND len(regexp_split_to_array(text, '$ws+')) > 0),
      top AS (SELECT doc_id, w, q_r FROM t ORDER BY q_r DESC, doc_id LIMIT 101),
      tau AS (SELECT q_r AS tau_r FROM top ORDER BY q_r, doc_id LIMIT 1),
      samp AS (SELECT doc_id, w FROM top ORDER BY q_r DESC, doc_id LIMIT 100),
      est AS (SELECT CAST(count(*) AS BIGINT) AS n_sample,
                     CAST(SUM(CAST(floor(greatest(CAST(w AS DOUBLE), tau_r) * 1000000)
                       AS BIGINT)) AS BIGINT) AS est_total_micros
              FROM samp CROSS JOIN tau),
      tr AS (SELECT CAST(SUM(w) AS BIGINT) AS tt FROM t)
      SELECT n_sample, est_total_micros, tt * 1000000 AS true_total_micros,
             abs(est_total_micros - tt * 1000000) * 1000000 // (tt * 1000000) AS abs_err_ppm
      FROM est CROSS JOIN tr""")),

    // ---- containment join (doc-in-doc): 25-token excerpts of every
    //      fixture doc are planted beside their sources; the asymmetric
    //      predicate |a∩b|/|a| >= 0.8 must recover every
    //      excerpt→source edge (containment 1.0) that symmetric Jaccard
    //      scores near zero. MinHash cannot estimate containment, so
    //      the prefix-filter path is the scale path at EVERY threshold
    //      here; the oracle is the exact all-pairs containment over
    //      string shingles (the prefix theorem guarantees a candidate
    //      superset, so outputs must match exactly).
    ("q101_containment_join", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents
        .filter(col("doc_id") < 300).select(col("doc_id"), col("text"))
      val excerpts = docs.select((col("doc_id") + 20000).as("doc_id"),
        array_join(slice(filter(TextStats.tokens(col("text")), x => x =!= lit("")),
          1, 25), " ").as("text"))
      Dedup.containmentJoinPrefix(docs.unionByName(excerpts), threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("containment"), 9).as("containment_r"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH all_docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 300
        UNION ALL
        SELECT doc_id + 20000,
               array_to_string(list_filter(regexp_split_to_array(text, '$ws+'),
                                           x -> x <> '')[1:25], ' ')
        FROM documents WHERE doc_id < 300),
      sh AS (
        SELECT doc_id AS id,
               CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                    ELSE list_distinct(list_transform(
                      range(1, greatest(len(toks) - 2, 1) + 1),
                      i -> array_to_string(toks[i:i+2], ' '))) END AS s
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '$ws+'), t -> t <> '') AS toks
              FROM all_docs)
        WHERE len(toks) > 0)
      SELECT a.id AS id_a, b.id AS id_b,
             round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 9)
               AS containment_r
      FROM sh a, sh b
      WHERE a.id <> b.id AND len(a.s) > 0 AND len(b.s) > 0
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.8
      ORDER BY id_a, id_b""")),

    // ---- language-ID confusion matrix: the q34 heuristic's predictions
    //      cross-tabulated against the fixture labels, with per-cell
    //      recall. The oracle replays the per-language stopword scoring
    //      and the argmax tie order, then aggregates identically.
    ("q102_lang_confusion", (s: SparkSession, dir: String) => {
      // one corpus scoring pass; label totals derive from the matrix
      // (ReuseExchange shares the scored aggregate between consumers)
      val cm = Tables(s, dir).documents
        .select(col("lang"), TextStats.langIdPredicted(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n_docs"))
      val totals = cm.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_label"))
      cm.join(broadcast(totals), Seq("lang"))
        .select(col("lang"), col("lang_pred"), col("n_docs"),
          round(col("n_docs").cast("double") / col("n_label").cast("double"), 6)
            .as("cell_recall_r"))
        .orderBy(col("lang"), col("lang_pred"))
    }, Some {
      def score(lang: String): String = {
        val words = TextStats.langProfiles.toMap.apply(lang)
        s"len(list_filter(regexp_split_to_array(lower(text), '$ws+'), t -> t IN (${words.map("'" + _ + "'").mkString(",")})))"
      }
      s"""
      WITH scored AS (
        SELECT doc_id, lang,
               ${score("en")} AS s_en, ${score("de")} AS s_de,
               ${score("es")} AS s_es, ${score("fr")} AS s_fr
        FROM documents),
      pred AS (
        SELECT lang,
          CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
               WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
               WHEN s_en >= s_de THEN 'en'
               ELSE 'de' END AS lang_pred
        FROM scored),
      tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_label FROM pred GROUP BY lang)
      SELECT p.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
             round(CAST(count(*) AS DOUBLE) / CAST(t.n_label AS DOUBLE), 6)
               AS cell_recall_r
      FROM pred p JOIN tot t ON p.lang = t.lang
      GROUP BY p.lang, p.lang_pred, t.n_label
      ORDER BY p.lang, lang_pred"""
    }),

    // ---- per-source KL drift from the corpus token distribution: the
    //      feed-health score. Integer counts, one mirrored IEEE term
    //      chain snapped round-9, DECIMAL(30,9) sum — the oracle
    //      replays every term and the sum bit-for-bit.
    ("q103_source_kl", (s: SparkSession, dir: String) => {
      graft.text.Vocab.sourceTokenKL(Tables(s, dir).documents)
        .orderBy(col("source"))
    }, Some(s"""
      WITH tok AS (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                                  x -> x <> '')) AS w
        FROM documents),
      bysrc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cs FROM tok GROUP BY 1, 2),
      srctot AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM tok GROUP BY 1),
      corp AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM tok GROUP BY 1),
      corptot AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM tok),
      terms AS (
        SELECT b.source,
               round((CAST(b.cs AS DOUBLE) / CAST(st.ns AS DOUBLE))
                     * ln((CAST(b.cs AS DOUBLE) * CAST(ct.nc AS DOUBLE))
                          / (CAST(st.ns AS DOUBLE) * CAST(c.cw AS DOUBLE))), 9) AS term,
               st.ns
        FROM bysrc b JOIN corp c USING (w) JOIN srctot st USING (source), corptot ct)
      SELECT source, CAST(MIN(ns) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct_words,
             round(CAST(SUM(CAST(term AS DECIMAL(30,9))) AS DOUBLE), 6) AS kl_r
      FROM terms GROUP BY source ORDER BY source""")),

    // ---- blocklist screening: whole-token lexicon hits + keep verdict
    //      at a 5% hit-ratio cap. The lexicon rides the plan as an
    //      array literal (pure projection, no join); the oracle probes
    //      the same list with list_filter.
    ("q104_blocklist", (s: SparkSession, dir: String) => {
      val lexicon = Seq("slow", "broken", "spill", "skew")
      val (nHits, nDistinct, nToks, keep) =
        graft.text.Scrub.blocklistScreen(col("text"), lexicon, maxHitRatio = 0.05)
      Tables(s, dir).documents
        .select(col("doc_id"), nHits.as("n_hits"), nDistinct.as("n_distinct_hits"),
          nToks.as("n_tokens"), keep.as("keep"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '$ws+'),
                           x -> x <> '') AS toks
        FROM documents),
      h AS (
        SELECT doc_id,
               CAST(len(list_filter(toks,
                 x -> x IN ('slow','broken','spill','skew'))) AS BIGINT) AS n_hits,
               CAST(len(list_distinct(list_filter(toks,
                 x -> x IN ('slow','broken','spill','skew')))) AS BIGINT) AS n_distinct_hits,
               CAST(len(toks) AS BIGINT) AS n_tokens
        FROM t)
      SELECT doc_id, n_hits, n_distinct_hits, n_tokens,
             CAST(n_hits AS DOUBLE) <= CAST(n_tokens AS DOUBLE) * 0.05 AS keep
      FROM h ORDER BY doc_id""")),

    // ---- per-language top terms: the per-group top-k pattern done
    //      scale-right — the rank window runs over the (lang, word)
    //      COUNT table (vocabulary-sized, map-side combined), never the
    //      corpus; ties at the rank cut break on the word for an
    //      engine-portable order.
    ("q105_top_terms_per_lang", (s: SparkSession, dir: String) => {
      val counts = Tables(s, dir).documents
        .select(col("lang"),
          explode(filter(TextStats.tokens(lower(col("text"))), x => x =!= lit(""))).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
      val byLang = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n").desc, col("w"))
      counts.withColumn("rank", row_number().over(byLang).cast("long"))
        .filter(col("rank") <= 5)
        .orderBy(col("lang"), col("rank"))
    }, Some(s"""
      WITH c AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT lang,
                     unnest(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                                        x -> x <> '')) AS w
              FROM documents)
        GROUP BY lang, w),
      r AS (
        SELECT lang, w, n,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS BIGINT)
                 AS rank
        FROM c)
      SELECT lang, w, n, rank FROM r WHERE rank <= 5
      ORDER BY lang, rank""")),

    // ---- quality deciles (curriculum binning): rank every document by
    //      its integer uniqueness-micros score through the distributed
    //      exact-rank decomposition, cut deciles with pure integer
    //      arithmetic: decile = (rank−1)·10 DIV N + 1 — equal-width
    //      rank bins (sizes differ by at most one, SPREAD across bins;
    //      NOT SQL NTILE, which front-loads the larger bins when
    //      N mod 10 != 0 — this formula is engine-portable without a
    //      window function, which NTILE would need). The oracle ranks
    //      with one plain global window and applies the same formula —
    //      equality proves the rank decomposition exact.
    ("q106_quality_deciles", (s: SparkSession, dir: String) => {
      val urMicros = round(round(TextStats.uniqueWordRatio(col("text")), 6) * 1000000.0, 0)
        .cast("long")
      graft.text.Packing.scoreOrder(
          Tables(s, dir).documents.select(col("doc_id"), urMicros.as("score")),
          score = col("score"))
        .withColumn("decile", ((col("rank") - 1) * 10 / col("n") + 1).cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score")).as("min_score"), max(col("score")).as("max_score"))
        .orderBy(col("decile"))
    }, Some(s"""
      WITH t AS (
        SELECT doc_id,
               CAST(round(round(CAST(len(list_distinct(regexp_split_to_array(text, '$ws+'))) AS DOUBLE)
                 / greatest(len(regexp_split_to_array(text, '$ws+')), 1), 6) * 1000000.0, 0)
                 AS BIGINT) AS score
        FROM documents),
      r AS (
        SELECT doc_id, score,
               CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS rank,
               (SELECT count(*) FROM t) AS n
        FROM t)
      SELECT CAST((rank - 1) * 10 // n + 1 AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(MIN(score) AS BIGINT) AS min_score,
             CAST(MAX(score) AS BIGINT) AS max_score
      FROM r GROUP BY 1 ORDER BY decile""")),

    // ---- per-source distinctive terms (Monroe log-odds, Dirichlet
    //      prior = corpus counts): integer counts through one mirrored
    //      ln/sqrt chain snapped round-6; the rank cut orders
    //      (z desc, word). The oracle replays scores and the per-source
    //      top-3 verbatim.
    ("q107_distinctive_terms", (s: SparkSession, dir: String) => {
      graft.text.Vocab.distinctiveTerms(Tables(s, dir).documents, topK = 3)
        .orderBy(col("source"), col("rank"))
    }, Some(s"""
      WITH tok AS (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                                  x -> x <> '')) AS w
        FROM documents),
      bysrc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS ysw FROM tok GROUP BY 1, 2),
      srctot AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM tok GROUP BY 1),
      corp AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM tok GROUP BY 1),
      corptot AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM tok),
      scored AS (
        SELECT b.source, b.w, b.ysw,
               round((ln((CAST(b.ysw AS DOUBLE) + CAST(c.cw AS DOUBLE))
                         / (CAST(st.ns AS DOUBLE) + CAST(ct.nc AS DOUBLE)
                            - CAST(b.ysw AS DOUBLE) - CAST(c.cw AS DOUBLE)))
                      - ln((CAST(c.cw - b.ysw AS DOUBLE) + CAST(c.cw AS DOUBLE))
                           / (CAST(ct.nc - st.ns AS DOUBLE) + CAST(ct.nc AS DOUBLE)
                              - CAST(c.cw - b.ysw AS DOUBLE) - CAST(c.cw AS DOUBLE))))
                     / sqrt(1.0 / (CAST(b.ysw AS DOUBLE) + CAST(c.cw AS DOUBLE))
                            + 1.0 / (CAST(c.cw - b.ysw AS DOUBLE) + CAST(c.cw AS DOUBLE))), 6)
                 AS z_r
        FROM bysrc b JOIN corp c USING (w) JOIN srctot st USING (source), corptot ct),
      r AS (
        SELECT source, w, ysw, z_r,
               CAST(row_number() OVER (PARTITION BY source ORDER BY z_r DESC, w) AS BIGINT)
                 AS rank
        FROM scored)
      SELECT source, w, ysw, z_r, rank FROM r WHERE rank <= 3
      ORDER BY source, rank""")),

    // ---- explicit GROUPING SETS with grouping_id (completing the
    //      rollup/cube family, §2.5): three hand-picked sets including
    //      a non-prefix one ((l_linestatus) alone) that ROLLUP cannot
    //      express, plus the grouping_id disambiguator for NULL-vs-
    //      grouped rows. Decimal-exact quantity sums (the q11
    //      discipline).
    ("q108_grouping_sets", (s: SparkSession, dir: String) => {
      Tables(s, dir).lineitem
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty[Column]),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_rows"),
          Relational.dsumExact(col("l_quantity")).as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
          col("n_rows"), round(col("sum_qty").cast("double"), 6).as("sum_qty_r"))
        .orderBy(col("gid"), asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             round(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS sum_qty_r
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // ---- per-label embedding centroids + drift vs the global centroid
    //      (cluster-balance report). Decimal-exact per-dim means snapped
    //      round-6 (the q74 centroid discipline) make the centroid
    //      vectors — and therefore the cosines — engine-identical.
    ("q109_label_centroids", (s: SparkSession, dir: String) => {
      graft.text.Similarity.labelCentroids(Tables(s, dir).embeddings, dim = 64)
        .orderBy(col("label"))
    }, Some(s"""
      WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      pl AS (SELECT label, r.i AS i,
               ${graft.text.Similarity.meanRound6Sql("list_extract(v, r.i)")} AS mu
             FROM e, range(1, 65) r(i) GROUP BY label, r.i),
      lc AS (SELECT label, list(mu ORDER BY i) AS cv FROM pl GROUP BY label),
      g AS (SELECT r.i AS i,
              ${graft.text.Similarity.meanRound6Sql("list_extract(v, r.i)")} AS mu
            FROM e, range(1, 65) r(i) GROUP BY r.i),
      gc AS (SELECT list(mu ORDER BY i) AS gv FROM g),
      sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM e GROUP BY label)
      SELECT lc.label, sz.n_vecs,
             round(list_cosine_similarity(lc.cv, (SELECT gv FROM gc)), 6) AS cos_to_global_r
      FROM lc JOIN sz USING (label) ORDER BY label""")),

    // ---- batched ANN evaluation: 10 query vectors served in ONE
    //      corpus pass (lshTopKMulti), each certified for recall@10
    //      against the exact multi-query brute force (also one pass:
    //      corpus × broadcast queries → per-query rank window). Output
    //      per query: the exact top-1 neighbor (oracle-replayable) and
    //      the recall certification — the q40 contract generalized to a
    //      query batch. Floor 2/10 sits below every measured per-query
    //      recall on the synthetic corpus (q40's noise-floor argument)
    //      and far above the 10/489 random expectation.
    ("q110_ann_eval", (s: SparkSession, dir: String) => {
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id").between(1, 10))
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
      val corpus = emb.filter(col("vec_id") > 10)
      val exactTop = graft.text.Similarity
        .topKPerQuery(corpus, queries, 10, qidCol = "q_id")
      val approx = graft.text.Similarity.lshTopKMulti(corpus, queries, 10,
        nPlanes = 4, dim = 64, probeHamming = 1)
      val hits = exactTop.select(col("q_id"), col("vec_id"))
        .join(approx.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
      exactTop.filter(col("rn") === 1)
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("vec_id").as("top1_id"),
          round(col("cos_sim"), 6).as("top1_cos_r"),
          (coalesce(col("hits"), lit(0L)) >= 2).as("recall_ok"))
        .orderBy(col("q_id"))
    }, Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 10),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id > 10),
      s AS (SELECT q_id, vec_id, list_cosine_similarity(v, qv) AS cs FROM c, q),
      r AS (SELECT q_id, vec_id, cs,
                   row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) AS rn
            FROM s)
      SELECT q_id, vec_id AS top1_id, round(cs, 6) AS top1_cos_r, TRUE AS recall_ok
      FROM r WHERE rn = 1 ORDER BY q_id""")),

    // ---- ingest-rate spike detection: hourly event counts z-scored
    //      against the trailing 24-hour window (emitted only once a
    //      full day of history exists). The hour spine is DENSIFIED
    //      (sequence over the observed range, zero-filled) so the
    //      trailing frame is truly 24 wall-clock hours even across gaps,
    //      and an outage hour — the most anomalous rate event — gets a
    //      row, a z-score, and a flag (|z|, so drops count as spikes).
    //      Windows run over the HOURLY spine — time-range-sized, the
    //      intentionally serial step (the packOffsets bucket-table
    //      argument) — never the event stream. All window sums are
    //      integers; the z chain is one mirrored IEEE expression with a
    //      greatest() floor on the variance so a constant stretch
    //      cannot divide by zero.
    ("q111_rate_spikes", (s: SparkSession, dir: String) => {
      val counts = Tables(s, dir).events
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      val spine = counts
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
      val hourly = spine.join(counts, Seq("hour"), "left")
        .select(col("hour"), coalesce(col("n"), lit(0L)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("hour")).rowsBetween(-24, -1)
      val d = (c: Column) => c.cast("double")
      hourly
        .withColumn("c", count(col("n")).over(w))
        .withColumn("s1", sum(col("n")).over(w))
        .withColumn("s2", sum(col("n") * col("n")).over(w))
        .filter(col("c") === 24)
        .withColumn("z_r", round(
          (d(col("n")) - d(col("s1")) / d(col("c"))) /
            sqrt(greatest(
              (d(col("s2")) - d(col("s1")) * d(col("s1")) / d(col("c"))) / d(col("c")),
              lit(0.000001))), 6))
        .select(col("hour"), col("n"), col("z_r"), (abs(col("z_r")) >= 3.0).as("spike"))
        .orderBy(col("hour"))
    }, Some("""
      WITH hc AS (SELECT date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS n
                  FROM events GROUP BY 1),
      spine AS (SELECT unnest(generate_series(
                  (SELECT MIN(hour) FROM hc), (SELECT MAX(hour) FROM hc),
                  INTERVAL 1 HOUR)) AS hour),
      h AS (SELECT spine.hour, COALESCE(hc.n, 0) AS n
            FROM spine LEFT JOIN hc USING (hour)),
      w AS (SELECT hour, n,
              COUNT(n) OVER win AS c,
              SUM(n) OVER win AS s1,
              SUM(n * n) OVER win AS s2
            FROM h WINDOW win AS (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      SELECT hour, n,
             round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(c AS DOUBLE))
                   / sqrt(greatest((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(c AS DOUBLE))
                           / CAST(c AS DOUBLE), 0.000001)), 6) AS z_r,
             abs(round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(c AS DOUBLE))
                   / sqrt(greatest((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(c AS DOUBLE))
                           / CAST(c AS DOUBLE), 0.000001)), 6)) >= 3.0 AS spike
      FROM w WHERE c = 24 ORDER BY hour""")),

    // ---- retention cohort matrix: users grouped by first-activity day,
    //      distinct-active counts per day offset — the classic
    //      engagement triangle. First-activity is a map-side-combined
    //      min per user; the join back keys on user_id; the matrix
    //      aggregate is cohorts × offsets (bounded by the time range).
    ("q112_cohorts", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir).events.select(col("user_id"), to_date(col("ts")).as("d"))
      val first = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
      e.join(first, Seq("user_id"))
        .withColumn("day_offset", datediff(col("d"), col("cohort_day")).cast("long"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }, Some("""
      WITH e AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
      f AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id)
      SELECT cohort_day, CAST(date_diff('day', cohort_day, d) AS BIGINT) AS day_offset,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
      FROM e JOIN f USING (user_id)
      GROUP BY 1, 2 ORDER BY cohort_day, day_offset""")),

    // ---- dedup pipeline v3 (composed funnel): numbered reprints are
    //      planted (the q99 construction), then the corpus flows
    //      robust-dedup → near-dup representative keep (longest copy)
    //      → benchmark decontamination, reporting the document count
    //      after every stage. Every stage is an operator whose own
    //      declared query is oracle-green (q99/q37/q57/q97/q55); the
    //      composed oracle chains their SQL pieces, so the funnel
    //      cannot drift from the primitives. Counts are integers —
    //      no float surface anywhere.
    ("q113_dedup_funnel", (s: SparkSession, dir: String) => {
      val base = Tables(s, dir).documents
        .filter(col("doc_id") < 500 && pmod(col("doc_id"), lit(50)) =!= 0)
        .select(col("doc_id"), col("text"))
      val reprints = base.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" -- "), col("doc_id").cast("string"),
          lit(" / 500 --")).as("text"))
      val input = base.unionByName(reprints)
      val benchmark = Tables(s, dir).documents
        .filter(col("doc_id") < 500 && pmod(col("doc_id"), lit(50)) === 0)
      // stage 1: robust (CCNet-normalization) dedup, keep min id.
      // each stage feeds BOTH the next stage and its own funnel count —
      // materialize (Stage.mat) so the lineage isn't recomputed once
      // per downstream consumer (input: 3 consumers; s1: 4; s2: 3)
      val inputM = graft.Stage.mat(input)
      val keep1 = inputM.groupBy(TextStats.robustFingerprint(col("text")).as("rfp"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val s1 = graft.Stage.mat(inputM.join(keep1, Seq("doc_id"), "left_semi"))
      // stage 2: near-dup clusters, keep the longest copy per cluster
      val pairs = Dedup.minhashNearDups(s1, threshold = 0.8, numHashes = 16, bands = 16)
      val keep2 = Dedup.selectRepresentatives(s1, pairs,
          score = TextStats.tokenCount(col("text")).cast("long"))
        .filter(col("keep")).select(col("doc_id"))
      val s2 = graft.Stage.mat(s1.join(keep2, Seq("doc_id"), "left_semi"))
      // stage 3: drop docs sharing any 3-gram with the benchmark set
      val s3 = s2.join(
        Dedup.contamination(s2, benchmark).filter(col("contaminated"))
          .select(col("doc_id")), Seq("doc_id"), "left_anti")
      def stage(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
      stage("0_input", inputM)
        .unionByName(stage("1_robust_dedup", s1))
        .unionByName(stage("2_neardup_keep", s2))
        .unionByName(stage("3_decontaminated", s3))
        .orderBy(col("stage"))
    }, Some(s"""
      WITH RECURSIVE base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 500 AND doc_id % 50 <> 0),
      input AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 10000,
               concat(text, ' -- ', CAST(doc_id AS VARCHAR), ' / 500 --') FROM base),
      bench AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 500 AND doc_id % 50 = 0),
      keep1 AS (
        SELECT MIN(doc_id) AS doc_id FROM input
        GROUP BY array_to_string(list_filter(regexp_split_to_array(
          regexp_replace(regexp_replace(lower(text), '[0-9]+', '', 'g'),
                         '[^a-z${TextStats.wsCharsSql}]', '', 'g'),
          '$ws+'), x -> x <> ''), ' ')),
      s1 AS (SELECT i.doc_id, i.text FROM input i JOIN keep1 USING (doc_id)),
      sh AS (
        SELECT doc_id AS id,
               CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                    ELSE list_distinct(list_transform(
                      range(1, greatest(len(toks) - 2, 1) + 1),
                      i -> array_to_string(toks[i:i+2], ' '))) END AS sgl
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '$ws+'), t -> t <> '') AS toks
              FROM s1)),
      prs AS (
        SELECT a.id AS id_a, b.id AS id_b FROM sh a, sh b
        WHERE a.id < b.id
          AND CAST(len(list_intersect(a.sgl, b.sgl)) AS DOUBLE)
              / greatest(len(list_distinct(list_concat(a.sgl, b.sgl))), 1) >= 0.8),
      edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                UNION SELECT id_b, id_a FROM prs),
      reach(n, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.n = e.src),
      labels AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n),
      scored AS (
        SELECT s1.doc_id, COALESCE(l.cluster_id, s1.doc_id) AS cid,
               CAST(len(regexp_split_to_array(s1.text, '$ws+')) AS BIGINT) AS score
        FROM s1 LEFT JOIN labels l USING (doc_id)),
      keep2 AS (
        SELECT doc_id FROM (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY cid ORDER BY score DESC, doc_id) AS rn
          FROM scored) WHERE rn = 1),
      s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN keep2 USING (doc_id)),
      bsh AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(lower(text), '$ws+')) - 2, 1) + 1),
          i -> array_to_string(regexp_split_to_array(lower(text), '$ws+')[i:i+2], ' ')))) AS sgl
        FROM bench),
      conta AS (
        SELECT DISTINCT doc_id FROM (
          SELECT s2.doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(len(regexp_split_to_array(lower(s2.text), '$ws+')) - 2, 1) + 1),
            i -> array_to_string(regexp_split_to_array(lower(s2.text), '$ws+')[i:i+2], ' ')))) AS sgl
          FROM s2) x JOIN bsh USING (sgl)),
      s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM conta))
      SELECT stage, n_docs FROM (
        SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM input
        UNION ALL SELECT '1_robust_dedup', CAST(count(*) AS BIGINT) FROM s1
        UNION ALL SELECT '2_neardup_keep', CAST(count(*) AS BIGINT) FROM s2
        UNION ALL SELECT '3_decontaminated', CAST(count(*) AS BIGINT) FROM s3)
      ORDER BY stage""")),

    // ---- robust outlier detection (median absolute deviation): the
    //      value-sanity gate heavy-tailed pipeline metrics need (mean/
    //      stddev break under the very outliers being hunted). Robust
    //      z = 0.6745·(x − med)/MAD, flag |z| > 3.5 (Iglewicz–Hoaglin).
    //      Both medians run as DISTINCT-VALUE HISTOGRAM medians
    //      ([[histMedian]]): counts per (group, value), a cumulative
    //      window over the distinct-value table only, conditional-min
    //      rank probes, explicit lo + (hi−lo)/2 interpolation —
    //      mirrored token-for-token by the oracle, so both engines
    //      compute bit-identical medians with NO dependence on either
    //      engine's quantile implementation. This replaced Spark's
    //      exact `percentile`, which buffers every group value in the
    //      aggregate (the 100 TB OOM hazard — a billion-row group
    //      cannot be buffered; histogram state is bounded by value
    //      CARDINALITY) and was the suite's slowest query at sf0.1.
    //      The z chain is one mirrored IEEE expression with a MAD
    //      floor, compared on the round-6 snap so the flag count is
    //      engine-stable.
    ("q114_mad_outliers", (s: SparkSession, dir: String) => {
      val li = Tables(s, dir).lineitem.select(col("l_returnflag"), col("l_extendedprice"))
      // dev feeds BOTH the mad median (3 internal corpus passes) and
      // the final z agg — without ITS barrier the whole med pipeline
      // re-runs inside every dev consumer (~12 lineitem scans; measured
      // 2.2 s, the suite's slowest query). med itself has exactly ONE
      // consumer (dev's broadcast join), so since round 14 it stays
      // lazy and builds inside dev's materialization job — one fewer
      // barrier, identical values.
      val med = histMedian(li, "l_returnflag", "l_extendedprice", "med")
      val dev = graft.Stage.mat(li.join(broadcast(med), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("l_extendedprice"), col("med"),
          abs(col("l_extendedprice") - col("med")).as("ad")))
      val mad = histMedian(dev.select(col("l_returnflag"), col("ad")),
        "l_returnflag", "ad", "mad")
      dev.join(broadcast(mad), Seq("l_returnflag"))
        .withColumn("z_r", round(
          (col("l_extendedprice") - col("med")) * 0.6745 /
            greatest(col("mad"), lit(0.000001)), 6))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          round(first(col("med")), 6).as("med_r"),
          round(first(col("mad")), 6).as("mad_r"),
          sum(when(abs(col("z_r")) > 3.5, 1L).otherwise(0L)).as("n_outliers"))
        .orderBy(col("l_returnflag"))
    }, Some(s"""
      WITH m AS (${histMedianSql("SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem")}),
      d AS (SELECT l.l_returnflag, l.l_extendedprice, m.med,
                   abs(l.l_extendedprice - m.med) AS ad
            FROM lineitem l JOIN m ON l.l_returnflag = m.g),
      md AS (SELECT g AS g2, med AS mad FROM
               (${histMedianSql("SELECT l_returnflag AS g, ad AS x FROM d")}))
      SELECT d.l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
             round(MIN(d.med), 6) AS med_r,
             round(MIN(md.mad), 6) AS mad_r,
             CAST(SUM(CASE WHEN abs(round((d.l_extendedprice - d.med) * 0.6745
                    / greatest(md.mad, 0.000001), 6)) > 3.5
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM d JOIN md ON d.l_returnflag = md.g2
      GROUP BY d.l_returnflag ORDER BY d.l_returnflag""")),

    // ---- product quantization (codebook + encode + fidelity audit):
    //      the memory arm of the ANN stack (16 code bytes vs 256 vector
    //      bytes). The ENTIRE pipeline — hash-spread seed pick, one
    //      Lloyd update with round-6-snapped argmin and long-micros
    //      centroid means, empty-cell seed retention, final encode,
    //      codebook reconstruction cosine — is replayed verbatim by the
    //      oracle (the q64/q75 discipline extended per subspace), so
    //      every code byte and audit value is hash-checked. Encode
    //      itself is a pure projection over literal codebooks: zero
    //      joins, zero shuffles on the corpus side.
    ("q115_pq_codes", (s: SparkSession, dir: String) => {
      graft.text.PQ.pqEncodeStr(Tables(s, dir).embeddings, pqCodebook(s, dir))
        .orderBy(col("vec_id"))
    }, Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sl AS (SELECT vec_id, v,
               ${TextStats.portableHash64Sql("concat('pq:', CAST(vec_id AS VARCHAR))")} AS h
             FROM e ORDER BY h, vec_id LIMIT 16),
      seeds AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER) AS c,
                       v FROM sl),
      cb0 AS (SELECT r.j, s.c, s.v[r.j*4+1 : r.j*4+4] AS cv
              FROM seeds s, range(0, 16) r(j)),
      sub AS (SELECT e.vec_id, r.j, e.v[r.j*4+1 : r.j*4+4] AS sv
              FROM e, range(0, 16) r(j)),
      a1 AS (SELECT vec_id, j, sv, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dist_r, c) AS rn
             FROM (SELECT sub.vec_id, sub.j, sub.sv, cb0.c,
                     round(${graft.text.PQ.l2sqSql("sv", "cv", 4)}, 6) AS dist_r
                   FROM sub JOIN cb0 USING (j))),
      m1 AS (SELECT vec_id, j, sv, c FROM a1 WHERE rn = 1),
      d1 AS (SELECT j, c, r.i AS i, ${graft.text.Similarity.meanRound6Sql("sv[r.i]")} AS mu
             FROM m1, range(1, 5) r(i) GROUP BY j, c, r.i),
      c1 AS (SELECT j, c, list(mu ORDER BY i) AS cv FROM d1 GROUP BY j, c),
      cb1 AS (SELECT cb0.j, cb0.c, COALESCE(c1.cv, cb0.cv) AS cv
              FROM cb0 LEFT JOIN c1 ON cb0.j = c1.j AND cb0.c = c1.c),
      a2 AS (SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dist_r, c) AS rn
             FROM (SELECT sub.vec_id, sub.j, cb1.c,
                     round(${graft.text.PQ.l2sqSql("sv", "cv", 4)}, 6) AS dist_r
                   FROM sub JOIN cb1 USING (j))),
      enc AS (SELECT vec_id, j, c FROM a2 WHERE rn = 1),
      codes AS (SELECT vec_id, array_to_string(list(CAST(c AS VARCHAR) ORDER BY j), ',') AS codes
                FROM enc GROUP BY vec_id),
      rec AS (SELECT enc.vec_id, flatten(list(cb1.cv ORDER BY enc.j)) AS recon
              FROM enc JOIN cb1 ON enc.j = cb1.j AND enc.c = cb1.c
              GROUP BY enc.vec_id)
      SELECT codes.vec_id, codes.codes,
             round(list_cosine_similarity(e.v, rec.recon), 6) AS recon_cos_r
      FROM codes JOIN rec ON codes.vec_id = rec.vec_id
      JOIN e ON codes.vec_id = e.vec_id
      ORDER BY codes.vec_id""")),

    // ---- IVF-PQ-style ADC ranking with a recall certification (the
    //      q110 contract over the PQ distance): an ADC shortlist of 50
    //      by asymmetric table-lookup distances over 16-byte codes —
    //      the production IVF-PQ deployment shape, where the shortlist
    //      is then reranked exactly on fetched vectors — certified per
    //      query against the exact cosine top-10 (unit-norm vectors
    //      make exact L2 and cosine rankings identical, so the exact
    //      side is the proven q35/q110 oracle). Floor 3/10-in-top-50:
    //      measured per-query minima are 7 (sf0.01) and 4 (sf0.1) on
    //      the synthetic worst-case (isotropic random) corpus, vs a
    //      random-shortlist expectation of 1.02/0.25 — the q110
    //      noise-floor argument. Corpus side of the rank never touches
    //      a float vector — (vec_id, j, code) rows joined to a q·m·k
    //      broadcast distance table, decimal-exact m-term sums.
    ("q116_pq_adc_eval", (s: SparkSession, dir: String) => {
      val cb = pqCodebook(s, dir)
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id").between(1, 10))
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
      val corpus = emb.filter(col("vec_id") > 10)
      val exactTop = graft.text.Similarity.topKPerQuery(corpus, queries, 10, qidCol = "q_id")
      val adc = graft.text.PQ.adcScores(graft.text.PQ.pqEncode(corpus, cb), queries, cb)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("adc_dist").asc, col("vec_id"))
      val adcTop = adc.withColumn("arn", row_number().over(w)).filter(col("arn") <= 50)
      val hits = exactTop.select(col("q_id"), col("vec_id"))
        .join(adcTop.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
      exactTop.filter(col("rn") === 1)
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("vec_id").as("top1_id"),
          round(col("cos_sim"), 6).as("top1_cos_r"),
          (coalesce(col("hits"), lit(0L)) >= 3).as("recall_ok"))
        .orderBy(col("q_id"))
    }, Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 10),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id > 10),
      s AS (SELECT q_id, vec_id, list_cosine_similarity(v, qv) AS cs FROM c, q),
      r AS (SELECT q_id, vec_id, cs,
                   row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) AS rn
            FROM s)
      SELECT q_id, vec_id AS top1_id, round(cs, 6) AS top1_cos_r, TRUE AS recall_ok
      FROM r WHERE rn = 1 ORDER BY q_id""")),

    // ---- exact multi-quantile by two-phase rank selection (the 100 TB
    //      form of percentile(x, array(...)) — see [[Quantiles]]):
    //      per-group p25/p50/p75/p95 with bucket-resolution state,
    //      never buffering a group. The oracle replays the bucket map,
    //      rank probes, and quantile_cont interpolation token-for-token
    //      — no dependence on either engine's quantile implementation,
    //      unlike q18's (proven but coincidental) percentile ↔
    //      quantile_cont agreement.
    ("q119_exact_quantiles", (s: SparkSession, dir: String) => {
      Quantiles.exactQuantiles(
        Tables(s, dir).lineitem
          .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x")),
        "g", "x", Seq(0.25, 0.5, 0.75, 0.95))
        .select(col("g").as("l_returnflag"), col("p"), col("q_r"))
        .orderBy(col("l_returnflag"), col("p"))
    }, Some(s"""
      SELECT g AS l_returnflag, p, q_r FROM (
        ${Quantiles.sql("SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem",
          "(VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)), " +
            "(CAST(0.75 AS DOUBLE)), (CAST(0.95 AS DOUBLE))) ps(p)")})
      ORDER BY l_returnflag, p""")),

    // ---- hard-negative mining (contrastive-retrieval training prep):
    //      per query, the top-5 most-similar vectors carrying a
    //      DIFFERENT label — the "looks relevant, isn't" examples a
    //      dual-encoder trains against. Exact by construction (q35's
    //      broadcast-queries + narrow-corpus-pass shape with a label
    //      anti-filter), so the oracle replays it value-for-value;
    //      at index scale the same mining runs over the q116 ADC
    //      shortlist instead of the exact pass — the split is the
    //      q45/q115 offline/online contract.
    ("q120_hard_negatives", (s: SparkSession, dir: String) => {
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id").between(1, 10))
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      val corpus = emb.filter(col("vec_id") > 10)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      corpus.crossJoin(broadcast(queries))
        .filter(col("label") =!= col("qlabel"))
        .withColumn("cos_sim",
          graft.text.Similarity.cosine(col("embedding"), col("qvec")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk").cast("long").as("rnk"),
          col("vec_id").as("neg_id"), round(col("cos_sim"), 6).as("cos_r"))
        .orderBy(col("q_id"), col("rnk"))
    }, Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv, label AS ql
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 10),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings WHERE vec_id > 10),
      s AS (SELECT q.q_id, c.vec_id, list_cosine_similarity(c.v, q.qv) AS cs
            FROM c, q WHERE c.label <> q.ql),
      r AS (SELECT q_id, vec_id, cs,
                   row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) AS rnk
            FROM s)
      SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id AS neg_id, round(cs, 6) AS cos_r
      FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""")),

    // ---- hard-negative mining over the ADC shortlist (the index-scale
    //      swap q120's scaladoc promises): PQ.hardNegativesAdc runs the
    //      asymmetric-distance scan over 16-byte codes, label-filters,
    //      keeps a 50-deep shortlist, and exact-reranks only the
    //      survivors on fetched vectors. The declared rows are the
    //      exact top-5 (the proven q120 oracle values) and the
    //      in-plan certification column compares the ADC-mined set
    //      against them per query (the q116 recall contract): floor
    //      ≥3/5 recovered. Shortlist depth 400 (~7% of the sf0.1
    //      corpus — production rerank depths are 1-10% of the probed
    //      cell): measured per-query minima are 5/5 at sf0.01 AND
    //      sf0.1 on the isotropic synthetic corpus (depth 50 bottoms
    //      at 2/5 at sf0.1 — isotropic vectors are PQ's worst case),
    //      vs a random-shortlist expectation of 0.33, so the floor
    //      has the q110 noise-margin argument. The bench times the
    //      featured ADC+rerank path only (the exact side is the
    //      certification's work, not the operator's — the q42/q40
    //      discipline).
    ("q128_hard_negatives_adc", (s: SparkSession, dir: String) => {
      val cb = pqCodebook(s, dir)
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id").between(1, 10))
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      val corpus = emb.filter(col("vec_id") > 10)
      val mined = graft.text.PQ.hardNegativesAdc(corpus, queries, cb,
        k = 5, shortlistK = 400)
      val wx = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      val exact = corpus.crossJoin(broadcast(queries))
        .filter(col("label") =!= col("qlabel"))
        .withColumn("cos_sim",
          graft.text.Similarity.cosine(col("embedding"), col("qvec")))
        .withColumn("rnk", row_number().over(wx))
        .filter(col("rnk") <= 5)
      val hits = exact.select(col("q_id"), col("vec_id"))
        .join(mined.select(col("q_id"), col("neg_id").as("vec_id")),
          Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
      exact.join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("rnk").cast("long").as("rnk"),
          col("vec_id").as("neg_id"), round(col("cos_sim"), 6).as("cos_r"),
          (coalesce(col("hits"), lit(0L)) >= 3).as("adc_recall_ok"))
        .orderBy(col("q_id"), col("rnk"))
    }, Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv, label AS ql
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 10),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings WHERE vec_id > 10),
      s AS (SELECT q.q_id, c.vec_id, list_cosine_similarity(c.v, q.qv) AS cs
            FROM c, q WHERE c.label <> q.ql),
      r AS (SELECT q_id, vec_id, cs,
                   row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) AS rnk
            FROM s)
      SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id AS neg_id, round(cs, 6) AS cos_r,
             TRUE AS adc_recall_ok
      FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""")),

    // ---- dominant principal component by integer power iteration
    //      (embedding anisotropy/drift diagnostic): 3 covariance-free
    //      iterations over the centered integer-micros corpus, L∞
    //      normalization (no sqrt — stays in the rationals), DECIMAL
    //      accumulation for the N-growing sums. The oracle replays the
    //      quantization, half-up mean, both per-iteration products, and
    //      the floored normalization exactly — see
    //      Similarity.topPrincipalComponent for the 100 TB shape
    //      (d-sized state, one d-group shuffle per iteration).
    ("q130_top_pc", (s: SparkSession, dir: String) => {
      graft.text.Similarity.topPrincipalComponent(
          Tables(s, dir).embeddings, dim = 64, iters = 3)
        .orderBy(col("j"))
    }, Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                 WHERE embedding IS NOT NULL),
      vmt AS (SELECT vec_id, list_transform(v,
                x -> CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS vm FROM e),
      mus AS (SELECT r.j AS j, SUM(vm[r.j]) AS sj, COUNT(*) AS n
              FROM vmt, range(1, 65) r(j) GROUP BY r.j),
      mur AS (SELECT j, CASE WHEN sj >= 0 THEN (2*sj + n) // (2*n)
                             ELSE -((2*(-sj) + n) // (2*n)) END AS mu FROM mus),
      mul AS (SELECT list(mu ORDER BY j) AS mu FROM mur),
      cmt AS (SELECT vec_id AS rid,
                list_transform(range(1, 65), j -> vm[j] - mu[j]) AS cm
              FROM vmt, mul),
      x0 AS (SELECT list_transform(range(1, 65),
               j -> CAST(CASE WHEN j = 1 THEN 1000000 ELSE 0 END AS BIGINT)) AS xm),
      ${graft.text.Similarity.powerIterSql(1, 64)},
      ${graft.text.Similarity.powerIterSql(2, 64)},
      ${graft.text.Similarity.powerIterSql(3, 64)}
      SELECT r.j AS j, x.xm[r.j] AS pc_m, x.xm[r.j] / 1000000.0 AS pc_r
      FROM x3 x, range(1, 65) r(j)
      WHERE x.xm IS NOT NULL
      ORDER BY j""")),

    // ---- top-2 principal components via integer deflation (the q130
    //      loop, then each centered vector sheds its PC1 projection by
    //      a truncate-toward-zero integer division, then the same loop
    //      on the deflated corpus). The oracle namespaces a second
    //      unrolled iteration block (b-prefix) over the deflated CTE
    //      and replays the deflation division sign-split exactly.
    ("q133_top2_pc", (s: SparkSession, dir: String) => {
      graft.text.Similarity.topTwoPrincipalComponents(
          Tables(s, dir).embeddings, dim = 64, iters = 3)
        .orderBy(col("comp"), col("j"))
    }, Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                 WHERE embedding IS NOT NULL),
      vmt AS (SELECT vec_id, list_transform(v,
                x -> CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS vm FROM e),
      mus AS (SELECT r.j AS j, SUM(vm[r.j]) AS sj, COUNT(*) AS n
              FROM vmt, range(1, 65) r(j) GROUP BY r.j),
      mur AS (SELECT j, CASE WHEN sj >= 0 THEN (2*sj + n) // (2*n)
                             ELSE -((2*(-sj) + n) // (2*n)) END AS mu FROM mus),
      mul AS (SELECT list(mu ORDER BY j) AS mu FROM mur),
      cmt AS MATERIALIZED (SELECT vec_id AS rid,
                list_transform(range(1, 65), j -> vm[j] - mu[j]) AS cm
              FROM vmt, mul),
      x0 AS (SELECT list_transform(range(1, 65),
               j -> CAST(CASE WHEN j = 1 THEN 1000000 ELSE 0 END AS BIGINT)) AS xm),
      ${graft.text.Similarity.powerIterSql(1, 64)},
      ${graft.text.Similarity.powerIterSql(2, 64)},
      ${graft.text.Similarity.powerIterSql(3, 64)},
      xx AS MATERIALIZED (SELECT GREATEST(SUM(x.xm[r.j] * x.xm[r.j]), 1) AS xx
             FROM x3 x, range(1, 65) r(j)),
      sd AS MATERIALIZED (SELECT c.rid, SUM(c.cm[r.j] * x.xm[r.j]) AS srow
             FROM cmt c, range(1, 65) r(j), x3 x GROUP BY c.rid),
      cm2 AS MATERIALIZED (SELECT c.rid, list_transform(range(1, 65), j ->
                CAST(c.cm[j] - (CASE WHEN CAST(s.srow AS HUGEINT) * x.xm[j] >= 0
                          THEN (CAST(s.srow AS HUGEINT) * x.xm[j]) // xx.xx
                          ELSE -((-(CAST(s.srow AS HUGEINT) * x.xm[j])) // xx.xx)
                          END) AS BIGINT)) AS cm
              FROM cmt c JOIN sd s USING (rid), x3 x, xx),
      bx0 AS (SELECT list_transform(range(1, 65),
                j -> CAST(CASE WHEN j = 1 THEN 1000000 ELSE 0 END AS BIGINT)) AS xm),
      ${graft.text.Similarity.powerIterSql(1, 64, "cm2", "b")},
      ${graft.text.Similarity.powerIterSql(2, 64, "cm2", "b")},
      ${graft.text.Similarity.powerIterSql(3, 64, "cm2", "b")}
      SELECT comp, j, pc_m, pc_r FROM (
        SELECT CAST(1 AS BIGINT) AS comp, r.j AS j, x.xm[r.j] AS pc_m,
               x.xm[r.j] / 1000000.0 AS pc_r FROM x3 x, range(1, 65) r(j)
        WHERE x.xm IS NOT NULL
        UNION ALL
        SELECT CAST(2 AS BIGINT), r.j, y.xm[r.j],
               y.xm[r.j] / 1000000.0 FROM bx3 y, range(1, 65) r(j)
        WHERE y.xm IS NOT NULL)
      ORDER BY comp, j""")),

    // ---- AMS second-frequency-moment sketch (Alon–Matias–Szegedy
    //      1996): F₂ = Σ_p f_p² of the lineitem part-key column — the
    //      SELF-JOIN SIZE, the synopsis a join planner prices
    //      part-keyed joins with (q282's sampling estimator prices ONE
    //      join; F₂ prices the key's whole join behavior). Nine ±1
    //      hash sketches ride ONE map-side-combined scan (9 longs of
    //      state, no groupBy); est = median of the 9 squares, picked
    //      by array_sort — no window, no shuffle beyond the single
    //      agg. The certification computes exact F₂ beside it (that
    //      groupBy is precisely the cost the sketch avoids at 100 TB)
    //      and the error in ppm. Squares run in DECIMAL(38,0)/HUGEINT
    //      (sketch sums are row-count-sized, so Long² overflows at
    //      ~3e9 rows); outputs CAST to BIGINT — at fixture scales all
    //      values fit, past ~9e18 ship the DECIMAL columns unchanged.
    //      Hash signs are md5-portable (h % 2 on the NONNEGATIVE
    //      60-bit portableHash64), so DuckDB replays every sketch sum
    //      bit-for-bit.
    ("q298_ams_f2", (s: SparkSession, dir: String) => {
      // ONE md5 per row, nine SIGN BITS from it (bits 0..8 of the
      // 60-bit portable hash): the nine estimators stay independent
      // enough for a median-of-9 (distinct md5 output bits), and the
      // scan stops paying 9 digests per row — measured 4.85 s -> ~1 s
      // at sf0.1, the difference between a synopsis and a tax
      val li = Tables(s, dir).lineitem
        .select(graft.text.TextStats.portableHash64(
          concat(lit("ams:"), col("l_partkey").cast("string"))).as("h"),
          col("l_partkey").as("p"))
        .transform(graft.Stage.mat)
      val sketchCols = (0 until 9).map { t =>
        sum(lit(1L) - lit(2L) * expr(s"(h DIV ${1L << t}) % 2")).as(s"sk$t") }
      val sk = li.agg(sketchCols.head, sketchCols.tail: _*)
      val med = sk.selectExpr(
          s"""element_at(array_sort(array(${(0 until 9).map(t =>
            s"CAST(sk$t AS DECIMAL(38,0)) * sk$t").mkString(", ")})), 5)
             AS f2_est""")
      val exact = li.groupBy(col("p")).agg(count(lit(1)).as("f"))
        .agg(sum(expr("CAST(f AS DECIMAL(38,0)) * f")).as("f2x"),
          sum(col("f")).as("n_rows"))
      exact.crossJoin(broadcast(med))
        .selectExpr("n_rows", "CAST(f2x AS BIGINT) AS f2_exact",
          "CAST(f2_est AS BIGINT) AS f2_est",
          """CAST((abs(f2_est - f2x) * 1000000)
             DIV greatest(f2x, 1) AS BIGINT) AS err_ppm""")
    }, Some {
      val h = graft.text.TextStats.portableHash64Sql(
        "concat('ams:', CAST(p AS VARCHAR))")
      s"""
      WITH li AS (SELECT l_partkey AS p, $h AS h FROM lineitem),
      sk AS (SELECT ${(0 until 9).map(t =>
        s"CAST(SUM(1 - 2 * ((h // ${1L << t}) % 2)) AS BIGINT) AS sk$t").mkString(", ")}
             FROM li),
      med AS (SELECT list_sort([${(0 until 9).map(t =>
        s"CAST(sk$t AS HUGEINT) * sk$t").mkString(", ")}])[5] AS f2_est
              FROM sk),
      ex AS (SELECT CAST(SUM(CAST(f AS HUGEINT) * f) AS HUGEINT) AS f2x,
                    CAST(SUM(f) AS BIGINT) AS n_rows
             FROM (SELECT CAST(count(*) AS BIGINT) AS f FROM li GROUP BY p))
      SELECT n_rows, CAST(f2x AS BIGINT) AS f2_exact,
             CAST(f2_est AS BIGINT) AS f2_est,
             CAST((abs(f2_est - f2x) * 1000000)
                  // greatest(f2x, 1) AS BIGINT) AS err_ppm
      FROM ex CROSS JOIN med"""
    }),

    // ---- V-optimal histogram (Jagadish et al., VLDB 1998): the
    //      4-segment piecewise-constant partition of the 64-bucket
    //      o_totalprice count vector minimizing the per-segment
    //      truncated-SSE objective err = Σc²·1e6 − ((Σc)²·1e6 DIV len)
    //      — the synopsis an optimizer keeps when equi-width buckets
    //      misprice skewed ranges (segment boundaries land where the
    //      distribution actually changes). One fact-scan groupBy builds
    //      the 64 counts; the O(k·B²) dynamic program folds on the
    //      driver over that index-sized vector (the kmeansFit
    //      precedent), ties in the argmin breaking to the smallest
    //      split. The oracle rebuilds the counts, prefix sums, the full
    //      err(i,j) table, unrolls dp1..dp4 with the identical
    //      (cost, split) tie order, and backtracks the same segments —
    //      every boundary and error value cross-checked.
    ("q301_voptimal_histogram", (s: SparkSession, dir: String) => {
      val spark = s
      import spark.implicits._
      val bc = Tables(s, dir).orders.selectExpr(
          "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents")
        .transform(graft.Stage.mat)
      val mm = bc.agg(min(col("cents")).as("mnc"), max(col("cents")).as("mxc"))
      val cnt = bc.crossJoin(broadcast(mm))
        .selectExpr("((cents - mnc) * 64) DIV (mxc - mnc + 1) AS b")
        .groupBy(col("b")).agg(count(lit(1)).as("c"))
        .as[(Long, Long)].collect().toMap
      val c = Array.tabulate(64)(b => cnt.getOrElse(b.toLong, 0L))
      val P = c.scanLeft(0L)(_ + _)
      val Q = c.map(v => v * v).scanLeft(0L)(_ + _)
      def errM(i: Int, j: Int): Long = {
        val sd = P(j + 1) - P(i); val qd = Q(j + 1) - Q(i); val len = (j - i + 1).toLong
        qd * 1000000L - (sd * sd * 1000000L) / len
      }
      // dp(k)(j) = (cost, split): best k-segment cover of buckets 0..j,
      // split = first bucket of the LAST segment; ties → smallest split.
      // States with no valid split (j < k−1) are INF — the oracle's dp
      // CTEs simply have no row there, and the backtrack never visits
      // either form on a 64-bucket vector.
      val INF = Long.MaxValue / 4
      val d1 = Array.tabulate(64)(j => (errM(0, j), 0))
      def next(prev: Array[(Long, Int)]): Array[(Long, Int)] =
        Array.tabulate(64) { j =>
          val cands = (1 to j).iterator.filter(sp => prev(sp - 1)._1 < INF)
            .map(sp => (prev(sp - 1)._1 + errM(sp, j), sp)).toSeq
          if (cands.isEmpty) (INF, 0) else cands.minBy(identity)
        }
      val d2 = next(d1); val d3 = next(d2); val d4 = next(d3)
      val s4 = d4(63)._2; val s3 = d3(s4 - 1)._2; val s2 = d2(s3 - 1)._2
      val bounds = Seq((1L, 0, s2 - 1), (2L, s2, s3 - 1), (3L, s3, s4 - 1), (4L, s4, 63))
      bounds.map { case (k, lo, hi) =>
        (k, lo.toLong, hi.toLong, P(hi + 1) - P(lo), errM(lo, hi))
      }.toDF("seg", "b_lo", "b_hi", "n_rows", "err_micros").orderBy(col("seg"))
    }, Some("""
      WITH cents AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
                     FROM orders),
      mm AS (SELECT MIN(cents) AS mnc, MAX(cents) AS mxc FROM cents),
      bc AS (SELECT ((cents - mnc) * 64) // (mxc - mnc + 1) AS b,
                    CAST(count(*) AS BIGINT) AS c
             FROM cents CROSS JOIN mm GROUP BY 1),
      full_b AS (SELECT r.range AS b, COALESCE(bc.c, 0) AS c
                 FROM range(0, 64) r LEFT JOIN bc ON bc.b = r.range),
      pf AS (SELECT b, c,
               SUM(c) OVER (ORDER BY b) AS pc,
               SUM(c * c) OVER (ORDER BY b) AS qc
             FROM full_b),
      e AS (SELECT i.b AS i, j.b AS j,
              (j.qc - COALESCE(ip.qc, 0)) * 1000000
                - ((j.pc - COALESCE(ip.pc, 0)) * (j.pc - COALESCE(ip.pc, 0))
                   * 1000000) // (j.b - i.b + 1) AS err
            FROM pf i JOIN pf j ON i.b <= j.b
            LEFT JOIN pf ip ON ip.b = i.b - 1),
      d1 AS (SELECT j, err AS cost, 0 AS sp FROM e WHERE i = 0),
      d2 AS (SELECT j, cost, sp FROM (
               SELECT e.j, d1.cost + e.err AS cost, e.i AS sp,
                      row_number() OVER (PARTITION BY e.j
                        ORDER BY d1.cost + e.err, e.i) AS rn
               FROM e JOIN d1 ON d1.j = e.i - 1 WHERE e.i >= 1) WHERE rn = 1),
      d3 AS (SELECT j, cost, sp FROM (
               SELECT e.j, d2.cost + e.err AS cost, e.i AS sp,
                      row_number() OVER (PARTITION BY e.j
                        ORDER BY d2.cost + e.err, e.i) AS rn
               FROM e JOIN d2 ON d2.j = e.i - 1 WHERE e.i >= 1) WHERE rn = 1),
      d4 AS (SELECT j, cost, sp FROM (
               SELECT e.j, d3.cost + e.err AS cost, e.i AS sp,
                      row_number() OVER (PARTITION BY e.j
                        ORDER BY d3.cost + e.err, e.i) AS rn
               FROM e JOIN d3 ON d3.j = e.i - 1 WHERE e.i >= 1) WHERE rn = 1),
      s4 AS (SELECT sp FROM d4 WHERE j = 63),
      s3 AS (SELECT d3.sp FROM d3, s4 WHERE d3.j = s4.sp - 1),
      s2 AS (SELECT d2.sp FROM d2, s3 WHERE d2.j = s3.sp - 1),
      segs AS (
        SELECT 1 AS seg, 0 AS lo, s2.sp - 1 AS hi FROM s2
        UNION ALL SELECT 2, s2.sp, s3.sp - 1 FROM s2, s3
        UNION ALL SELECT 3, s3.sp, s4.sp - 1 FROM s3, s4
        UNION ALL SELECT 4, s4.sp, 63 FROM s4)
      SELECT CAST(seg AS BIGINT) AS seg, CAST(lo AS BIGINT) AS b_lo,
             CAST(hi AS BIGINT) AS b_hi,
             CAST(hj.pc - COALESCE(lp.pc, 0) AS BIGINT) AS n_rows,
             CAST((hj.qc - COALESCE(lp.qc, 0)) * 1000000
               - ((hj.pc - COALESCE(lp.pc, 0)) * (hj.pc - COALESCE(lp.pc, 0))
                  * 1000000) // (hi - lo + 1) AS BIGINT) AS err_micros
      FROM segs
      JOIN pf hj ON hj.b = hi
      LEFT JOIN pf lp ON lp.b = lo - 1
      ORDER BY seg"""))
  ) ++ Seq(

    // ---- Z-order (Morton) multi-dimensional clustering advisor
    //      (Morton 1966; the liquid-clustering/Z-ORDER BY layout
    //      decision every 100 TB lakehouse table faces): q267 settles
    //      1-D clustering; this query measures the 2-D case it cannot
    //      cover — a predicate selective on BOTH order date and
    //      customer key, against (a) a date-major row layout
    //      (db·16 + cb) and (b) the bit-interleaved Morton layout,
    //      both cut into 64 zones of 4 cells with per-zone min/max
    //      (db, cb) footer stats. A zone survives when its bounding
    //      box intersects the db ∈ [3,6] × cb ∈ [5,9] range; the zz
    //      rows then show rows-scanned vs rows-matched per layout —
    //      Z-order keeps both dimensions' locality, so its surviving
    //      zones carry far less dead weight. Bit interleaving is
    //      spelled in pure % / DIV arithmetic (no shift builtins), so
    //      both engines derive identical codes; everything else is one
    //      projection + one 128-group aggregate.
    ("q303_zorder_advisor", (s: SparkSession, dir: String) => {
      val o = Tables(s, dir).orders.selectExpr("o_custkey",
        "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT) AS od")
      val st = o.agg(min(col("od")).as("mn"), max(col("od")).as("mx"),
        min(col("o_custkey")).as("kmn"), max(col("o_custkey")).as("kmx"))
      def bit(v: String, i: Int) = s"(($v DIV ${1 << i}) % 2)"
      val morton = (0 to 3).map(i =>
        s"${bit("db", i)} * ${1 << (2 * i)} + ${bit("cb", i)} * ${1 << (2 * i + 1)}")
        .mkString(" + ")
      val base = graft.Stage.mat(o.crossJoin(broadcast(st)).selectExpr(
          "((od - mn) * 16) DIV (mx - mn + 1) AS db",
          "((o_custkey - kmn) * 16) DIV (kmx - kmn + 1) AS cb")
        .selectExpr("db", "cb", "(db * 16 + cb) DIV 4 AS z_lin",
          s"($morton) DIV 4 AS z_mor",
          "CAST(db BETWEEN 3 AND 6 AS BIGINT) AS hit_db",
          "CAST(cb BETWEEN 5 AND 9 AS BIGINT) AS hit_cb",
          """CAST(db BETWEEN 3 AND 6 AND cb BETWEEN 5 AND 9
             AS BIGINT) AS hit_both"""))
      def zones(zcol: String, layout: String) = base
        .groupBy(col(zcol).as("zone"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("db")).as("db_min"), max(col("db")).as("db_max"),
          min(col("cb")).as("cb_min"), max(col("cb")).as("cb_max"),
          sum(col("hit_db")).as("m_db"), sum(col("hit_cb")).as("m_cb"),
          sum(col("hit_both")).as("m_both"))
        .selectExpr(s"'$layout' AS layout", "zone", "n_rows",
          "db_min", "db_max", "cb_min", "cb_max", "m_db", "m_cb", "m_both",
          "CAST(db_max >= 3 AND db_min <= 6 AS BIGINT) AS s_db",
          "CAST(cb_max >= 5 AND cb_min <= 9 AS BIGINT) AS s_cb",
          """CAST(db_max >= 3 AND db_min <= 6
              AND cb_max >= 5 AND cb_min <= 9 AS BIGINT) AS s_both""")
      val per = graft.Stage.mat(
        zones("z_lin", "linear").unionByName(zones("z_mor", "zorder")))
      // one advisor row per (layout, predicate): how many zones the
      // footer stats keep, how many rows those zones force through the
      // scan, and the true match count they contain
      def summary(p: String) = per.groupBy(col("layout")).agg(
          count(lit(1)).as("n_zones"),
          sum(col(s"s_$p")).as("zones_hit"),
          sum(when(col(s"s_$p") === 1L, col("n_rows")).otherwise(0L)).as("rows_scanned"),
          sum(col(s"m_$p")).as("rows_matched"),
          sum(col("n_rows")).as("rows_total"))
        .selectExpr("layout", s"'$p' AS pred", "n_zones", "zones_hit",
          "rows_scanned", "rows_matched", "rows_total")
      summary("db").unionByName(summary("cb")).unionByName(summary("both"))
        .orderBy(col("layout"), col("pred"))
    }, Some {
      def bit(v: String, i: Int) = s"(($v // ${1 << i}) % 2)"
      val morton = (0 to 3).map(i =>
        s"${bit("db", i)} * ${1 << (2 * i)} + ${bit("cb", i)} * ${1 << (2 * i + 1)}")
        .mkString(" + ")
      s"""
      WITH o AS (SELECT o_custkey,
               CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS od
             FROM orders),
      st AS (SELECT MIN(od) AS mn, MAX(od) AS mx,
                    MIN(o_custkey) AS kmn, MAX(o_custkey) AS kmx FROM o),
      b0 AS (SELECT ((od - mn) * 16) // (mx - mn + 1) AS db,
                    ((o_custkey - kmn) * 16) // (kmx - kmn + 1) AS cb
             FROM o CROSS JOIN st),
      base AS (SELECT db, cb, (db * 16 + cb) // 4 AS z_lin,
                      ($morton) // 4 AS z_mor,
                      CAST(db BETWEEN 3 AND 6 AS BIGINT) AS hit_db,
                      CAST(cb BETWEEN 5 AND 9 AS BIGINT) AS hit_cb,
                      CAST(db BETWEEN 3 AND 6 AND cb BETWEEN 5 AND 9
                        AS BIGINT) AS hit_both
               FROM b0),
      per AS (
        SELECT 'linear' AS layout, z_lin AS zone, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(SUM(hit_db) AS BIGINT) AS m_db,
               CAST(SUM(hit_cb) AS BIGINT) AS m_cb,
               CAST(SUM(hit_both) AS BIGINT) AS m_both,
               CAST(MAX(db) >= 3 AND MIN(db) <= 6 AS BIGINT) AS s_db,
               CAST(MAX(cb) >= 5 AND MIN(cb) <= 9 AS BIGINT) AS s_cb,
               CAST(MAX(db) >= 3 AND MIN(db) <= 6
                 AND MAX(cb) >= 5 AND MIN(cb) <= 9 AS BIGINT) AS s_both
        FROM base GROUP BY z_lin
        UNION ALL
        SELECT 'zorder', z_mor, CAST(count(*) AS BIGINT),
               CAST(SUM(hit_db) AS BIGINT), CAST(SUM(hit_cb) AS BIGINT),
               CAST(SUM(hit_both) AS BIGINT),
               CAST(MAX(db) >= 3 AND MIN(db) <= 6 AS BIGINT),
               CAST(MAX(cb) >= 5 AND MIN(cb) <= 9 AS BIGINT),
               CAST(MAX(db) >= 3 AND MIN(db) <= 6
                 AND MAX(cb) >= 5 AND MIN(cb) <= 9 AS BIGINT)
        FROM base GROUP BY z_mor)
      ${Seq("db", "cb", "both").map(p =>
        s"""SELECT layout, '$p' AS pred, CAST(count(*) AS BIGINT) AS n_zones,
             CAST(SUM(s_$p) AS BIGINT) AS zones_hit,
             CAST(SUM(CASE WHEN s_$p = 1 THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_scanned,
             CAST(SUM(m_$p) AS BIGINT) AS rows_matched,
             CAST(SUM(n_rows) AS BIGINT) AS rows_total
           FROM per GROUP BY layout""").mkString("\n      UNION ALL\n      ")}
      ORDER BY layout, pred"""
    }),

    // ---- Hilbert-curve layout advisor — q303's head-to-head: same
    //      16×16 bucket grid, same three footer-stat predicates, but
    //      the multi-column sort key is the HILBERT index instead of
    //      Morton/Z-order. Hilbert's defining property (consecutive
    //      indexes are UNIT grid steps — Z-order jumps across the grid
    //      at quadrant seams) gives tighter per-zone bounding boxes, so
    //      footer pruning scans fewer false-positive rows at the same
    //      zone count; this query emits the zorder rows beside the
    //      hilbert rows so the comparison is one table.
    //
    //      Zone size 6 is DELIBERATELY not a power of two: at any
    //      power-of-4 zone size both curves partition the grid into the
    //      SAME quadrant blocks (measured — identical advisor rows at
    //      DIV 4/8/16), because a zone then always completes whole
    //      quadrants; only when the zone boundary lands mid-quadrant —
    //      the realistic case, row groups never align to key-space
    //      quadrants — does Z-order's seam jump widen its boxes (16×16
    //      grid: mean bbox 6.7 cells Hilbert vs 12.5 Z-order at size 6). The unrolled
    //      xy2d transform (Hilbert 1891; the bit-interleave-and-rotate
    //      form) is generated ONCE as engine-portable SQL — CASE/&/
    //      arithmetic only — and evaluated verbatim by both engines;
    //      BucketingSpec proves the shipped expression IS a Hilbert
    //      curve (bijection on the grid + unit adjacency), which any
    //      wrong rotation breaks. Pure projection + one groupBy — the
    //      q303 scale shape.
    ("q314_hilbert_advisor", (s: SparkSession, dir: String) => {
      val o = Tables(s, dir).orders.selectExpr("o_custkey",
        "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT) AS od")
      val st = o.agg(min(col("od")).as("mn"), max(col("od")).as("mx"),
        min(col("o_custkey")).as("kmn"), max(col("o_custkey")).as("kmx"))
      def bit(v: String, i: Int) = s"(($v DIV ${1 << i}) % 2)"
      val morton = (0 to 3).map(i =>
        s"${bit("db", i)} * ${1 << (2 * i)} + ${bit("cb", i)} * ${1 << (2 * i + 1)}")
        .mkString(" + ")
      val b0 = o.crossJoin(broadcast(st)).selectExpr(
          "((od - mn) * 16) DIV (mx - mn + 1) AS db",
          "((o_custkey - kmn) * 16) DIV (kmx - kmn + 1) AS cb")
        .selectExpr("db", "cb", s"($morton) DIV 6 AS z_mor",
          "CAST(db BETWEEN 3 AND 6 AS BIGINT) AS hit_db",
          "CAST(cb BETWEEN 5 AND 9 AS BIGINT) AS hit_cb",
          """CAST(db BETWEEN 3 AND 6 AND cb BETWEEN 5 AND 9
             AS BIGINT) AS hit_both""",
          "db AS hx0", "cb AS hy0", "CAST(0 AS BIGINT) AS hd0")
      val hil = hilbertLevelExprs(16).foldLeft(b0) { case (df, exprs) =>
        df.selectExpr(("*" +: exprs): _*)
      }
      val base = graft.Stage.mat(hil.selectExpr("db", "cb", "z_mor",
        "hd4 DIV 6 AS z_hil", "hit_db", "hit_cb", "hit_both"))
      def zones(zcol: String, layout: String) = base
        .groupBy(col(zcol).as("zone"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("db")).as("db_min"), max(col("db")).as("db_max"),
          min(col("cb")).as("cb_min"), max(col("cb")).as("cb_max"),
          sum(col("hit_db")).as("m_db"), sum(col("hit_cb")).as("m_cb"),
          sum(col("hit_both")).as("m_both"))
        .selectExpr(s"'$layout' AS layout", "zone", "n_rows",
          "m_db", "m_cb", "m_both",
          "CAST(db_max >= 3 AND db_min <= 6 AS BIGINT) AS s_db",
          "CAST(cb_max >= 5 AND cb_min <= 9 AS BIGINT) AS s_cb",
          """CAST(db_max >= 3 AND db_min <= 6
              AND cb_max >= 5 AND cb_min <= 9 AS BIGINT) AS s_both""")
      val per = graft.Stage.mat(
        zones("z_hil", "hilbert").unionByName(zones("z_mor", "zorder")))
      def summary(p: String) = per.groupBy(col("layout")).agg(
          count(lit(1)).as("n_zones"),
          sum(col(s"s_$p")).as("zones_hit"),
          sum(when(col(s"s_$p") === 1L, col("n_rows")).otherwise(0L)).as("rows_scanned"),
          sum(col(s"m_$p")).as("rows_matched"),
          sum(col("n_rows")).as("rows_total"))
        .selectExpr("layout", s"'$p' AS pred", "n_zones", "zones_hit",
          "rows_scanned", "rows_matched", "rows_total")
      summary("db").unionByName(summary("cb")).unionByName(summary("both"))
        .orderBy(col("layout"), col("pred"))
    }, Some {
      def bit(v: String, i: Int) = s"(($v // ${1 << i}) % 2)"
      val morton = (0 to 3).map(i =>
        s"${bit("db", i)} * ${1 << (2 * i)} + ${bit("cb", i)} * ${1 << (2 * i + 1)}")
        .mkString(" + ")
      val gs = hilbertLevelExprs(16).zipWithIndex.map { case (exprs, i) =>
        s"g${i + 1} AS (SELECT *, ${exprs.mkString(", ")} FROM g$i)"
      }.mkString(",\n      ")
      def zonesSql(zcol: String, layout: String) = s"""
        SELECT '$layout' AS layout, $zcol AS zone, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(SUM(hit_db) AS BIGINT) AS m_db,
               CAST(SUM(hit_cb) AS BIGINT) AS m_cb,
               CAST(SUM(hit_both) AS BIGINT) AS m_both,
               CAST(MAX(db) >= 3 AND MIN(db) <= 6 AS BIGINT) AS s_db,
               CAST(MAX(cb) >= 5 AND MIN(cb) <= 9 AS BIGINT) AS s_cb,
               CAST(MAX(db) >= 3 AND MIN(db) <= 6
                 AND MAX(cb) >= 5 AND MIN(cb) <= 9 AS BIGINT) AS s_both
        FROM base GROUP BY $zcol"""
      def summarySql(p: String) = s"""
        SELECT layout, '$p' AS pred, CAST(count(*) AS BIGINT) AS n_zones,
               CAST(SUM(s_$p) AS BIGINT) AS zones_hit,
               CAST(SUM(CASE WHEN s_$p = 1 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
               CAST(SUM(m_$p) AS BIGINT) AS rows_matched,
               CAST(SUM(n_rows) AS BIGINT) AS rows_total
        FROM per GROUP BY layout"""
      s"""
      WITH o AS (SELECT o_custkey,
               CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS od
             FROM orders),
      st AS (SELECT MIN(od) AS mn, MAX(od) AS mx,
                    MIN(o_custkey) AS kmn, MAX(o_custkey) AS kmx FROM o),
      b0 AS (SELECT ((od - mn) * 16) // (mx - mn + 1) AS db,
                    ((o_custkey - kmn) * 16) // (kmx - kmn + 1) AS cb
             FROM o CROSS JOIN st),
      g0 AS (SELECT db, cb, ($morton) // 6 AS z_mor,
                    CAST(db BETWEEN 3 AND 6 AS BIGINT) AS hit_db,
                    CAST(cb BETWEEN 5 AND 9 AS BIGINT) AS hit_cb,
                    CAST(db BETWEEN 3 AND 6 AND cb BETWEEN 5 AND 9
                      AS BIGINT) AS hit_both,
                    db AS hx0, cb AS hy0, CAST(0 AS BIGINT) AS hd0
             FROM b0),
      $gs,
      base AS (SELECT db, cb, z_mor, hd4 // 6 AS z_hil,
                      hit_db, hit_cb, hit_both FROM g4),
      per AS (${zonesSql("z_hil", "hilbert")}
              UNION ALL ${zonesSql("z_mor", "zorder")})
      ${summarySql("db")}
      UNION ALL ${summarySql("cb")}
      UNION ALL ${summarySql("both")}
      ORDER BY layout, pred"""
    }),

    // ---- RLE sort-order advisor (the third member of the layout
    //      family, beside q303's Z-order and q314's Hilbert curve):
    //      which LEXICOGRAPHIC sort key minimizes the table's
    //      run-length-encoded footprint? Under a full lexicographic
    //      sort by (c₁..cₖ), column cᵢ's run count is bounded by the
    //      number of distinct (c₁..cᵢ) prefixes (a run can only break
    //      where its prefix group changes — equal cᵢ across adjacent
    //      prefix groups merge, so distinct-prefix is the standard
    //      writer-side upper bound, exact when prefixes imply value
    //      changes). That makes the advisor PURE AGGREGATION: k
    //      prefix-distinct counts per candidate, no sort, no window,
    //      no row ordering anywhere — the one layout score computable
    //      at 100 TB without moving the data. Four candidate orders
    //      over (returnflag 3, linestatus 2, quantity ~50, ship-day
    //      ~span): low-cardinality-first demonstrates the classic
    //      cascade win; date-first models ingest order. Output: one
    //      row per candidate with the per-position run bounds, the
    //      total (the RLE page estimate), and n for the incompressible
    //      baseline; ranked ascending.
    //
    //      Plan shape (VERDICT r10 ask #2 — the r10 form paid ~16
    //      fact-scale Expand passes, 18.5 s CPU at sf0.1): ONE
    //      distinct-4-tuples pass over the fact table (groupBy — at
    //      most min(n, |rf|·|ls|·|qy|·|sd|) rows, the row count riding
    //      along as sum(cnt)); all 16 prefix-distinct counts are then
    //      aggregates over that SMALL table, because a prefix's
    //      distinct count over the base EQUALS its distinct count over
    //      the distinct-tuple set, and r4 is just the tuple-table row
    //      count. Non-null precondition (ADVICE r10 #3): all four
    //      profiled columns are non-null in lineitem; countDistinct
    //      drops rows where ANY column is NULL while DuckDB's tuple
    //      form counts them — a nullable column added to the candidate
    //      set must be coalesced first ON BOTH SIDES.
    ("q326_rle_advisor", (s: SparkSession, dir: String) => {
      val base = Tables(s, dir).lineitem.selectExpr(
        "l_returnflag AS rf", "l_linestatus AS ls",
        "CAST(floor(l_quantity) AS BIGINT) AS qy",
        "CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT) AS sd")
      val dt = graft.Stage.mat(
        base.groupBy(col("rf"), col("ls"), col("qy"), col("sd"))
          .agg(count(lit(1)).as("cnt")))
      // round 14 (VERDICT r13 ask #6): the r10–r13 form ran FOUR
      // Expand(4) exact multi-distinct aggregates over dt — 16 dt-scale
      // hash passes on (gid, 4-col) keys, 9 s idle CPU. But the four
      // candidates' prefix SETS overlap: as sets, the 3-prefixes are
      // only THREE — {rf,ls,qy} (shared by candidates 1 and 4, whose
      // r3 orders are permutations of the same set), {sd,rf,ls},
      // {qy,sd,rf} — and every 1-/2-prefix is a subset of one of them.
      // So: materialize the three 3-column DISTINCT sub-tables with one
      // dt pass each, then every r1/r2 is a distinct-count over a
      // sub-table (≤ the 3-set cardinality, not dt) and every r3 is a
      // bare count. No Expand anywhere; the dt-scale work drops from 16
      // wide passes to 3 narrow ones. countDistinct(cols) over dt ≡
      // count over the distinct sub-table under the documented non-null
      // precondition (all four profiled columns are non-null in
      // lineitem — the same caveat the Expand form carried).
      // the three sub-table builds + the count row are independent given
      // dt — materialize them from driver threads (guide §2.6, the q308
      // pattern) so their barrier tails back-fill instead of queueing
      val subBuilds: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
        () => graft.Stage.mat(dt.select(col("rf"), col("ls"), col("qy")).distinct()),
        () => graft.Stage.mat(dt.select(col("sd"), col("rf"), col("ls")).distinct()),
        () => graft.Stage.mat(dt.select(col("qy"), col("sd"), col("rf")).distinct()),
        () => graft.Stage.mat(dt.agg(count(lit(1)).as("r4"), sum(col("cnt")).as("n"))))
      val built = graft.Stage.concurrently(s, "q326",
        timeout = scala.concurrent.duration.Duration(30, "minutes"))(subBuilds)
      val (dRls, dSrl, dQsr, cnts) = (built(0), built(1), built(2), built(3))
      val cands = Seq(
        (Seq("rf", "ls", "qy", "sd"), dRls),
        (Seq("sd", "rf", "ls", "qy"), dSrl),
        (Seq("qy", "sd", "rf", "ls"), dQsr),
        (Seq("ls", "qy", "rf", "sd"), dRls))
      cands.map { case (cs, sub) =>
        val r1 = sub.select(col(cs(0))).distinct().agg(count(lit(1)).as("r1"))
        val r2 = sub.select(col(cs(0)), col(cs(1))).distinct()
          .agg(count(lit(1)).as("r2"))
        val r3 = sub.agg(count(lit(1)).as("r3"))
        r1.crossJoin(r2).crossJoin(r3).crossJoin(broadcast(cnts))
          .selectExpr(s"'${cs.mkString(",")}' AS layout",
            "CAST(r1 AS BIGINT) AS r1", "CAST(r2 AS BIGINT) AS r2",
            "CAST(r3 AS BIGINT) AS r3", "CAST(r4 AS BIGINT) AS r4",
            "CAST(r1 + r2 + r3 + r4 AS BIGINT) AS total_bound", "n")
      }.reduce(_ unionByName _).orderBy(col("total_bound"), col("layout"))
    }, Some {
      def cand(cs: Seq[String]) = s"""
        SELECT '${cs.mkString(",")}' AS layout, r1, r2, r3, r4,
               r1 + r2 + r3 + r4 AS total_bound, n
        FROM (SELECT CAST(COUNT(DISTINCT ${cs(0)}) AS BIGINT) AS r1,
                     CAST(COUNT(DISTINCT (${cs(0)}, ${cs(1)})) AS BIGINT) AS r2,
                     CAST(COUNT(DISTINCT (${cs(0)}, ${cs(1)}, ${cs(2)})) AS BIGINT) AS r3,
                     CAST(count(*) AS BIGINT) AS r4,
                     (SELECT CAST(SUM(cnt) AS BIGINT) FROM dt) AS n
              FROM dt)"""
      s"""
      WITH b AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
                        CAST(floor(l_quantity) AS BIGINT) AS qy,
                        CAST(datediff('day', DATE '1970-01-01',
                          CAST(l_shipdate AS DATE)) AS BIGINT) AS sd
                 FROM lineitem),
      dt AS MATERIALIZED (SELECT rf, ls, qy, sd, CAST(count(*) AS BIGINT) AS cnt
                          FROM b GROUP BY 1, 2, 3, 4)
      ${cand(Seq("rf", "ls", "qy", "sd"))}
      UNION ALL ${cand(Seq("sd", "rf", "ls", "qy"))}
      UNION ALL ${cand(Seq("qy", "sd", "rf", "ls"))}
      UNION ALL ${cand(Seq("ls", "qy", "rf", "sd"))}
      ORDER BY total_bound, layout"""
    }),

    // ---- dedup selection-bias audit: WHAT does the keep-rule throw
    //      away? Every dedup pass is an implicit sampling policy — if
    //      dropped copies skew by language, source, or length, the
    //      surviving corpus drifts (the Dodge et al. 2021 C4-audit
    //      concern). Corpus = q99's construction (documents + planted
    //      numbered reprints), keep-rule = q99's robust-fingerprint
    //      min-id representative; the audit compares kept vs dropped
    //      per language: counts, within-cohort share, and mean chars
    //      (exact integer micros — the reprints are strictly longer,
    //      so the fixture has real signal: dropped mean > kept mean).
    //      The keep flag rides a PARTITIONED window over the 64-bit
    //      fingerprint (no fingerprint-string join, no global window);
    //      everything downstream is (cohort × lang)-sized. The reprint
    //      id offset is DERIVED from max(doc_id)+1 on both engines
    //      (VERDICT r10 #3) so reprint ids can never collide with real
    //      ids at a larger documents fixture; the min-id keep rule
    //      still always prefers the original.
    ("q334_dedup_bias_audit", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables(s, dir).documents.select(col("doc_id"), col("text"),
        col("lang"))
      val off = base.agg((max(col("doc_id")) + 1L).as("off"))
      val reprints = base.crossJoin(broadcast(off))
        .select((col("doc_id") + col("off")).as("doc_id"),
          concat(col("text"), lit(" -- "), col("doc_id").cast("string"),
            lit(" / 500 --")).as("text"), col("lang"))
      val tagged = graft.Stage.mat(base.unionByName(reprints)
        .withColumn("rfp", TextStats.robustFingerprint(col("text")))
        .withColumn("keep_id", min(col("doc_id")).over(
          Window.partitionBy(col("rfp"))))
        .selectExpr(
          "CASE WHEN doc_id = keep_id THEN 'kept' ELSE 'dropped' END AS cohort",
          "lang", "length(text) AS nc"))
      val per = tagged.groupBy(col("cohort"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("nc")).as("sc"))
      val tot = per.groupBy(col("cohort"))
        .agg(sum(col("n")).as("nt")).withColumnRenamed("cohort", "cohort2")
      per.join(broadcast(tot), col("cohort") === col("cohort2"))
        .selectExpr("cohort", "lang", "n",
          "(1000000 * n) DIV nt AS share_ppm",
          "(1000000 * sc) DIV n AS mean_chars_micros")
        .orderBy(col("cohort"), col("lang"))
    }, Some(s"""
      WITH all_docs AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents),
               concat(text, ' -- ', CAST(doc_id AS VARCHAR), ' / 500 --'),
               lang
        FROM documents),
      tagged AS (
        SELECT CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY
                 array_to_string(list_filter(regexp_split_to_array(
                   regexp_replace(regexp_replace(lower(text), '[0-9]+', '', 'g'),
                                  '[^a-z${TextStats.wsCharsSql}]', '', 'g'),
                   '$ws+'), x -> x <> ''), ' '))
               THEN 'kept' ELSE 'dropped' END AS cohort,
               lang, CAST(length(text) AS BIGINT) AS nc
        FROM all_docs),
      per AS (SELECT cohort, lang, CAST(count(*) AS BIGINT) AS n,
                     CAST(SUM(nc) AS BIGINT) AS sc
              FROM tagged GROUP BY 1, 2),
      tot AS (SELECT cohort, CAST(SUM(n) AS BIGINT) AS nt
              FROM per GROUP BY cohort)
      SELECT per.cohort, lang, n, (1000000 * n) // nt AS share_ppm,
             (1000000 * sc) // n AS mean_chars_micros
      FROM per JOIN tot ON per.cohort = tot.cohort
      ORDER BY per.cohort, lang""")),

    // ---- histogram selectivity estimator, CERTIFIED (the System R
    //      lineage: Selinger et al. 1979; Piatetsky-Shapiro & Connell
    //      1984): how well does a 32-bucket equi-width histogram of
    //      order value price a range predicate `x ≤ q`? The planner
    //      synopsis beside q282's join-cardinality sample and q301's
    //      v-optimal buckets — full buckets count exactly, the boundary
    //      bucket interpolates uniformly:
    //        est(q) = Σ_{hi_b ≤ q} c_b + c_bq·(q − lo_bq + 1) DIV w_bq
    //      with the TRUE integer member bounds of bucket b under the
    //      assignment ((x−mn)·32) DIV span — lo_b = mn + ⌈b·span/32⌉,
    //      hi_b = lo_{b+1} − 1, both as (a + 31) DIV 32 ceils (floor
    //      bounds can sit below a bucket's actual min/max when 32
    //      does not divide b·span, mis-counting near cutoffs; the
    //      same ceil arithmetic runs on both engines). Five
    //      span-grid cutoffs; the exact side rides along as the
    //      certificate (the q42 convention — at 100 TB you keep the
    //      histogram, not the verification scan), so err_ppm exposes
    //      exactly where uniform-within-bucket breaks on skew.
    //
    //      Scale shape: one histogram aggregate + one certification
    //      aggregate over the fact table; everything else is
    //      (5 cutoffs × 32 buckets)-row arithmetic.
    ("q352_selectivity_cert", (s: SparkSession, dir: String) => {
      val v = Tables(s, dir).orders
        .selectExpr("CAST(floor(o_totalprice * 100) AS BIGINT) AS x")
      val st = graft.Stage.mat(
        v.agg(min(col("x")).as("mn"), max(col("x")).as("mx")))
      val hist = graft.Stage.mat(v.crossJoin(broadcast(st))
        .selectExpr("((x - mn) * 32) DIV (mx - mn + 1) AS b")
        .groupBy(col("b")).agg(count(lit(1)).as("c")))
      val cuts = graft.Stage.mat(s.range(1, 6).select(col("id").as("i"))
        .crossJoin(broadcast(st))
        .selectExpr("i", "mn + ((mx - mn + 1) * i) DIV 6 AS q"))
      val est = cuts.crossJoin(broadcast(hist)).crossJoin(broadcast(st))
        .selectExpr("i", "q",
          """CASE WHEN mn + ((b + 1) * (mx - mn + 1) + 31) DIV 32 - 1 <= q THEN c
                  WHEN mn + (b * (mx - mn + 1) + 31) DIV 32 > q THEN 0
                  ELSE (c * (q - (mn + (b * (mx - mn + 1) + 31) DIV 32) + 1))
                       DIV (((b + 1) * (mx - mn + 1) + 31) DIV 32
                            - (b * (mx - mn + 1) + 31) DIV 32) END AS t""")
        .groupBy(col("i"), col("q")).agg(sum(col("t")).as("est"))
      val exact = v.crossJoin(broadcast(cuts))
        .groupBy(col("i"), col("q"))
        .agg(sum(when(col("x") <= col("q"), 1L).otherwise(0L)).as("n_exact"))
      est.join(exact, Seq("i", "q"))
        .selectExpr("i AS cut", "q AS q_cents", "est", "n_exact",
          """(1000000 * abs(est - n_exact)) DIV greatest(n_exact, 1)
             AS err_ppm""")
        .orderBy(col("cut"))
    }, Some("""
      WITH v AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS x
                 FROM orders),
      st AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM v),
      hist AS (SELECT ((x - mn) * 32) // (mx - mn + 1) AS b,
                      CAST(count(*) AS BIGINT) AS c
               FROM v CROSS JOIN st GROUP BY 1),
      cuts AS (SELECT i, mn + ((mx - mn + 1) * i) // 6 AS q
               FROM (SELECT unnest(range(1, 6)) AS i) CROSS JOIN st),
      est AS (
        SELECT i, q, CAST(SUM(
          CASE WHEN mn + ((b + 1) * (mx - mn + 1) + 31) // 32 - 1 <= q THEN c
               WHEN mn + (b * (mx - mn + 1) + 31) // 32 > q THEN 0
               ELSE (c * (q - (mn + (b * (mx - mn + 1) + 31) // 32) + 1))
                    // (((b + 1) * (mx - mn + 1) + 31) // 32
                         - (b * (mx - mn + 1) + 31) // 32) END) AS BIGINT) AS est
        FROM cuts CROSS JOIN hist CROSS JOIN st
        GROUP BY i, q),
      ex AS (SELECT i, q,
                    CAST(SUM(CASE WHEN x <= q THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_exact
             FROM v CROSS JOIN cuts GROUP BY i, q)
      SELECT CAST(est.i AS BIGINT) AS cut, est.q AS q_cents, est.est, n_exact,
             (1000000 * abs(est - n_exact)) // GREATEST(n_exact, 1) AS err_ppm
      FROM est JOIN ex ON est.i = ex.i AND est.q = ex.q
      ORDER BY cut"""))
  )

  /** Unrolled Hilbert index on an n×n grid (n a power of two): the
    * xy2d bit-interleave-and-rotate recurrence (the classic iterative
    * form — per level s = n/2 … 1: quadrant digit (3·rx) xor ry, then
    * reflect-and-swap when ry = 0) emitted as ENGINE-PORTABLE SQL —
    * CASE / & / integer arithmetic only, no xor operator (DuckDB's ^
    * is exponentiation) and no division — so the SAME strings run
    * verbatim in Spark selectExpr and DuckDB CTEs. Level i consumes
    * columns hx{i}/hy{i}/hd{i} and defines hx{i+1}/hy{i+1}/hd{i+1};
    * start from (hx0 = x, hy0 = y, hd0 = 0). BucketingSpec proves the
    * generated expression is a Hilbert curve: a bijection on the grid
    * whose consecutive indexes are unit grid steps.
    */
  private[graft] def hilbertLevelExprs(n: Int): Seq[Seq[String]] = {
    require(n > 1 && (n & (n - 1)) == 0, "grid side must be a power of two")
    val levels = Iterator.iterate(n / 2)(_ / 2).takeWhile(_ > 0).toSeq
    levels.zipWithIndex.map { case (s, i) =>
      val (x, y, d) = (s"hx$i", s"hy$i", s"hd$i")
      val rx = s"(CASE WHEN ($x & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN ($y & $s) > 0 THEN 1 ELSE 0 END)"
      val q = s"(CASE WHEN $rx = 0 AND $ry = 0 THEN 0 WHEN $rx = 0 THEN 1 " +
        s"WHEN $ry = 1 THEN 2 ELSE 3 END)"
      Seq(
        s"$d + ${s * s} * $q AS hd${i + 1}",
        s"CASE WHEN $ry = 1 THEN $x WHEN $rx = 1 THEN ${n - 1} - $y ELSE $y END AS hx${i + 1}",
        s"CASE WHEN $ry = 1 THEN $y WHEN $rx = 1 THEN ${n - 1} - $x ELSE $x END AS hy${i + 1}")
    }
  }

  /** Exact per-group median — [[Quantiles.quantilesRaw]] at p = 0.5.
    * The rank pair there (klo = ⌊(n−1)·0.5⌋+1, khi, frac ∈ {0, 0.5})
    * is the (n+1)÷2 / (n+2)÷2 median pair, and vlo + (vhi−vlo)·0.5 is
    * bit-identical IEEE to lo + (hi−lo)/2, so delegating changes no
    * value. See [[Quantiles]] for why two-phase rank selection is the
    * 100 TB form (bucket-resolution state, never a buffered group).
    */
  private def histMedian(vals: DataFrame, g: String, x: String, out: String): DataFrame =
    Quantiles.quantilesRaw(vals, g, x, Seq(0.5))
      .select(col(g), col("q").as(out))

  /** The mirrored DuckDB form: `src` must yield columns (g, x); the
    * fragment yields (g, med) — [[Quantiles.rawSql]] at p = 0.5.
    */
  private def histMedianSql(src: String): String =
    s"""SELECT g, q AS med FROM (
          ${Quantiles.rawSql(src, "(VALUES (CAST(0.5 AS DOUBLE))) ps(p)")})"""
}
