package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-behavior smoke harness (diagnostic main): time the
  * similarity/dedup operators on N× replications of the sf0.1
  * documents fixture and print one JSON line per (operator, N) so the
  * growth CURVE is measured, not argued. Each replica rewrites every
  * token with a replica-unique suffix, so replica vocabularies are
  * disjoint: the near-dup structure inside each replica is preserved
  * (same pairs, shifted ids), duplicate DENSITY stays constant, and a
  * scale-correct operator should grow ~linearly in N — a quadratic
  * kernel would blow up by N².
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.ScaleSmoke 1 2 5
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ns = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 5)
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    def corpus(n: Int): DataFrame =
      (0 until n).map { i =>
        base.select((col("doc_id") + i * 1000000L).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1_r" + i).as("text"))
      }.reduce(_ unionByName _)

    // optional dev filter: SPARK_GRAFT_SMOKE_OPS=substr1,substr2 times
    // only ops whose name contains a listed substring (full battery
    // otherwise — the driver never sets this)
    val opFilter = sys.env.get("SPARK_GRAFT_SMOKE_OPS").map(_.split(',').toSeq)

    def time(name: String, n: Int)(df: => DataFrame): Unit = {
      if (!opFilter.forall(_.exists(name.contains))) return
      // min of two runs, noop-driven (the Bench discipline)
      val ts = (1 to 2).map { _ =>
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"""{"op":"$name","n":$n,"sec":${ts.min}%.2f}""")
    }

    ns.foreach { n =>
      val c = corpus(n)
      time("prefix_jaccard_join_t0.4", n)(graft.text.Dedup.jaccardJoinPrefix(c, 0.4))
      time("minhash_neardup_t0.8", n)(graft.text.Dedup.minhashNearDups(c, 0.8, numHashes = 16, bands = 16))
      time("dup_span_coverage", n)(graft.text.Dedup.dupSpanCoverage(c))
    }

    // Graph battery (VERDICT r7 ask #5): the suite's most expensive
    // queries are graph-iterative, so their growth curve must be
    // measured too. N disjoint copies of the declared interaction
    // graph — every node id suffixed per replica — keep per-node degree
    // CONSTANT while nodes and edges grow N×, so a scale-correct
    // join+agg-per-iteration implementation grows ~linearly; any Σdeg²
    // wedge term (the q158 failure mode) or label-skew blowup shows as
    // super-linear immediately.
    val g1 = graft.analytics.GraphOps.interactionGraph(spark, sfDir)
      .select(col("src"), col("dst"))
    def graphN(n: Int): DataFrame =
      (0 until n).map { i =>
        g1.select(concat(col("src"), lit(s"_r$i")).as("src"),
          concat(col("dst"), lit(s"_r$i")).as("dst"))
      }.reduce(_ unionByName _)

    ns.foreach { n =>
      val g = graphN(n)
      time("pagerank_undirected_i3", n)(graft.analytics.GraphOps.pageRankMicros(g))
      time("pagerank_directed_i3", n)(graft.analytics.GraphOps.pageRankDirectedMicros(g))
      // q138 ships on the delta peel since r10 (PERF.md); timed under
      // a new name so earlier rounds' kcore_k2_r4 curves stay comparable
      time("kcore_delta_k2_r4", n)(graft.analytics.GraphOps.kCorePeelDelta(g, 2, 4)._1)
      time("label_prop_i3", n)(graft.analytics.GraphOps.labelPropagation(g))
      time("modularity_lpa1", n)(graft.analytics.GraphOps.modularityPpm(g,
        graft.analytics.GraphOps.labelPropagation(g, 1)))
      // triangle census (VERDICT r8 ask #2 — the suite's most expensive
      // query): O(m^1.5) Schank–Wagner bound ⇒ disjoint replicas with
      // constant per-node degree must grow ~linearly in N (each
      // replica's wedge set is private; a super-linear term means the
      // orientation or the closure probe regressed). String ids hash to
      // longs first — the census unions a −1 sentinel row.
      val eh = g.select(xxhash64(col("src")).as("ha"), xxhash64(col("dst")).as("hb"))
        .select(least(col("ha"), col("hb")).as("pa"),
          greatest(col("ha"), col("hb")).as("pb"))
        .filter(col("pa") =!= col("pb")).distinct()
      time("triangle_census_adj", n)(graft.analytics.GraphOps.triangleCensusAdj(eh))
      // round-10 addition on the same replica discipline: the
      // cohort-bounded Adamic–Adar pass (q325 — wedge stream cut to
      // Σ d_Q(u)² by the 10% shard; pmod on hashed ids keeps the shard a
      // constant fraction per replica).
      time("adamic_adar_cohort", n)(graft.analytics.GraphOps.adamicAdarTopK(eh))
      // round-11 additions: q342's three exact power iterations (each a
      // full-edge join + re-aggregate ⇒ expected ~linear in m on
      // disjoint replicas, the PageRank slope — VERDICT r10 ask #3) and
      // the q335 peel end-to-end, in the incremental-support form q335
      // ships since r14 (one wedge enumeration + two removed-edge-scale
      // support updates; the wedge pass dominates, so the curve should
      // track triangle_census_adj). Timed under a new name so earlier
      // rounds' ktruss_delta_r3 curves (the classic form) stay comparable.
      time("eigencentrality_i3", n)(graft.analytics.GraphOps.eigenCentralityTopK(eh))
      time("ktruss_inc_r3", n)(graft.analytics.GraphOps.kTrussRoundsInc(eh))
    }

    // Embedding battery (VERDICT r8 ask #2): q258's cell-bounded DBSCAN
    // (and the q225 SemDeDup family it shares cells with) now derives
    // its cell count from Similarity.cellCountFor — k ∝ n — so the
    // within-cell quadratic term is budgeted CONSTANT per cell and the
    // whole pass should grow ~linearly. Replicas must be disjoint in
    // EMBEDDING SPACE, not just by id: each replica applies its own
    // deterministic ±1 sign pattern per dimension — within-replica
    // cosines are EXACTLY preserved ((s⊙a)·(s⊙b) = a·b, norms
    // unchanged), so each replica carries the fixture's true near-dup
    // structure, while cross-replica vectors land in different
    // orthants and separate into different k-means cells. Replica 0
    // is the identity pattern, so n = 1 measures the real fixture.
    val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def signs(i: Int): Seq[Float] = {
      var x = i.toLong * 6364136223846793005L + 1442695040888963407L
      (0 until 64).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        if (i == 0 || ((x >>> 33) & 1L) == 0L) 1.0f else -1.0f
      }
    }
    def embN(n: Int): DataFrame =
      (0 until n).map { i =>
        embBase.select((col("vec_id") + i * 1000000L).as("vec_id"),
          zip_with(col("embedding"), typedlit(signs(i)),
            (x, s) => x * s).as("embedding"))
      }.reduce(_ unionByName _)

    ns.foreach { n =>
      val emb = embN(n)
      time("dbscan_cell_bounded", n)(graft.analytics.CurationOps.densityClusters(emb))
      time("semdedup_t0.35", n)(graft.text.Similarity.semDedup(emb,
        k = graft.text.Similarity.cellCountFor(emb.count()), dim = 64, tau = 0.35))
      // q308 growth curve (VERDICT r9 ask #2): same ±1-orthant replicas;
      // pair table flat under the cell contract, CC rounds O(log).
      time("percolation_sweep_indep", n)(
        graft.analytics.CurationOps.percolationSweep(emb))
    }

    // Greedy max coverage (VERDICT r8 ask #2, the #3 suite ceiling):
    // k = 5 driver-bounded rounds, each an anti-join + count + top-1 —
    // rounds are corpus-linear scans, so N× disjoint-token replicas
    // must grow ~linearly (the covered set stays vocabulary-bounded;
    // replica tokens are disjoint so coverage never collapses).
    ns.foreach { n =>
      time("greedy_max_coverage_k5", n)(
        graft.analytics.CurationOps.greedyMaxCoverage(corpus(n)))
    }
    spark.stop()
  }
}
