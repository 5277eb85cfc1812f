package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: the scale properties the engine is designed
  * around must be visible in the plans Catalyst actually produces —
  * filter/column pushdown into the parquet scan, broadcast joins on
  * dimension sides, whole-stage codegen coverage, top-k without a full
  * sort. Guards against regressions that stay correct but stop scaling.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("router filter is pushed into the parquet scan (P1)") {
    val p = plan("q20_router")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(event_type,purchase)"),
      s"expected event_type pushdown in:\n$p")
  }

  test("column pruning: router scan reads only projected columns") {
    val p = plan("q20_router")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"),
      s"props must be pruned from the scan: $readSchema")
  }

  test("dimension joins broadcast, fact side never builds (J-rows at scale)") {
    val p = plan("q04_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("semi/anti joins plan as real semi/anti joins") {
    assert(plan("q05_semi_join").contains("LeftSemi"))
    assert(plan("q06_anti_join").contains("LeftAnti"))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q02_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
  }

  test("aggregation is partial+final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate in:\n$p")
  }

  test("whole-stage codegen covers the comment-pipeline expressions") {
    // AQE's pre-execution formatted plan omits codegen annotations; the
    // codegen explain mode reports the compiled subtrees directly.
    val df = SparkEntry.queries("q27_token_filter")(spark, sf)
    val p = df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen subtrees"), s"expected codegen spans in:\n${p.take(500)}")
  }

  test("no declared query plans a CartesianProduct") {
    // broadcast nested-loop crosses against one-row/tiny build sides are
    // intended (query vectors, centroid tables); an unpartitioned
    // CartesianProduct is always a scale regression.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      plan(name).contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("native expressions do not break codegen") {
    import org.apache.spark.sql.functions._
    // a parquet-backed stage (LocalTableScan never wraps in WSCG)
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.catalyst.GraftFunctions.simhash64(col("text")).as("sh"))
    val p = df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(p.contains("Found 1 WholeStageCodegen subtrees"),
      s"simhash64 fell out of codegen:\n${p.take(300)}")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(graft.catalyst.GraftFunctions.cosineSim(col("embedding"), col("embedding")).as("cs"))
    val p2 = emb.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(p2.contains("Found 1 WholeStageCodegen subtrees"),
      s"cosine_sim fell out of codegen:\n${p2.take(300)}")
    // and both evaluate correctly through the codegen path
    assert(!df.head().isNullAt(0))
    assert(math.abs(emb.head().getDouble(0) - 1.0) < 1e-9)
    val ent = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.catalyst.GraftFunctions.charEntropyNanos(col("text")).as("en"))
    val p3 = ent.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(p3.contains("Found 1 WholeStageCodegen subtrees"),
      s"char_entropy_nanos fell out of codegen:\n${p3.take(300)}")
    assert(ent.head().getLong(0) < 0L) // p·ln p terms are negative for prose
  }

  test("stratified sampling is a shuffle-free filter (pure projection predicate)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.analytics.Sampling
      .stratifiedSample(docs, "lang", "doc_id", Map("en" -> 700), 500)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(p.contains("Filter"), s"sampling must plan as a filter:\n$p")
  }

  test("contamination probes the benchmark shingle set via broadcast, never SMJ") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.text.Dedup.contamination(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe:\n$p")
    assert(!p.contains("SortMergeJoin"), s"shingle join must not SMJ:\n$p")
  }

  test("sequence packing broadcasts bucket offsets and windows per bucket") {
    val p = graft.text.Packing
      .packOffsets(spark.read.parquet(s"$sf/documents.parquet"), seqLen = 512, bucketSize = 64)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), s"bucket offsets must broadcast:\n$p")
    // the corpus-side window must be partitioned (by bucket), never a
    // single-task global window over the full table: its shuffle is a
    // hashpartitioning exchange on bucket, not SinglePartition
    assert(p.contains("Window"), s"expected window operators:\n$p")
    assert(p.contains("hashpartitioning(bucket"),
      s"corpus window must hash-partition by bucket:\n$p")
  }

  test("training-order shuffle windows per key-range bucket, never globally") {
    val p = graft.text.Packing
      .trainingOrder(spark.read.parquet(s"$sf/documents.parquet"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), s"bucket offsets must broadcast:\n$p")
    assert(p.contains("hashpartitioning(b"),
      s"corpus rank window must hash-partition by the key-range bucket:\n$p")
  }

  test("bm25 broadcasts the query-term and corpus-stats sides") {
    val p = plan("q61_bm25_rank")
    assert(p.contains("BroadcastHashJoin"), s"qterms join must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k must avoid a global sort:\n$p")
  }

  test("chunking is a shuffle-free generator until its output sort") {
    import org.apache.spark.sql.functions._
    val p = graft.text.Chunking
      .chunkTokens(spark.read.parquet(s"$sf/documents.parquet"), 32, 8)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"chunking plans as a generator:\n$p")
  }

  test("temperature resample joins the ppm rate table via broadcast") {
    val p = plan("q63_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), s"rate table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not SMJ:\n$p")
  }

  test("kmeans assignment is a pure projection — no join, no corpus shuffle") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = graft.text.Similarity.kmeansAssign(emb, k = 4, dim = 64)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n$p")
  }

  test("OOV stats probe the vocabulary via broadcast, never SMJ") {
    val p = plan("q72_oov_stats")
    assert(p.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not SMJ:\n$p")
  }

  test("centroid outlier scoring: one-row broadcast, corpus side stays narrow") {
    val p = plan("q74_embed_outliers")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroid must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus must not shuffle into the join:\n$p")
  }

  test("semDedup pairwise pass joins only on the cluster key — never all-pairs") {
    val p = plan("q75_semdedup")
    assert(!p.contains("CartesianProduct"), s"no all-pairs join:\n$p")
    // the within-cluster self-join keys on centroid_id
    assert(p.contains("centroid_id"), s"pairwise join must key on the cluster:\n$p")
  }

  test("hybrid RRF: dense side is a one-row broadcast into a bounded top-N") {
    val p = plan("q78_hybrid_rrf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query vector must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N cuts must plan as TakeOrdered, not global sorts:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("prefix jaccard join: candidate join keys on the prefix-token hash, text never shuffles") {
    val p = plan("q91_jaccard_join")
    assert(!p.contains("CartesianProduct"), s"no all-pairs join:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(!_.contains("text")),
      s"text must be projected away before any shuffle:\n${exchanges.mkString("\n")}")
  }

  test("priority sample plans as TakeOrderedAndProject — no global sort of the corpus") {
    val p = plan("q100_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-n operator in:\n$p")
  }

  test("shard manifest windows per position bucket — no corpus-sized global window") {
    val p = graft.text.Packing
      .shardManifest(spark.read.parquet(s"$sf/documents.parquet"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), s"bucket offsets must broadcast:\n$p")
    assert(p.contains("hashpartitioning(pbucket") || p.contains("hashpartitioning(b"),
      s"corpus prefix-sum window must hash-partition by bucket:\n$p")
  }

  test("misra-gries sketch aggregates partial+final — constant-size buffers cross the shuffle") {
    val p = plan("q93_heavy_hitters")
    // TypedImperativeAggregate plans as ObjectHashAggregate; two levels
    // means the capacity-bounded buffer (not the token stream) is what
    // crosses the exchange
    val objAggs = p.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(objAggs >= 2, s"expected partial+final ObjectHashAggregate in:\n$p")
  }

  test("ngram novelty shuffles (hash, id) pairs only — text never reaches an exchange") {
    val p = plan("q79_ngram_novelty")
    // every Exchange's partitioning expressions mention only the gram
    // hash or the doc id, never the text column
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(!_.contains("text")),
      s"text must be projected away before any shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q169 profile is ONE pass: a single Expand feeding partial+final aggregation") {
    val p = plan("q169_profile")
    val headers = p.linesIterator.map(_.trim).toSeq
    assert(headers.count(_.matches("""\(\d+\) Expand\s*""")) == 1,
      s"expected exactly one Expand (the 6-way exact-distinct pass) in:\n$p")
    assert(headers.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1,
      s"the profile must scan orders exactly once:\n$p")
  }

  test("q168 cohort bound is pushed into the events scan (q158 shares the helper)") {
    // q158's own plan starts from the kHopReach localCheckpoint, so the
    // pushdown is only visible on q168 — both build their graph through
    // the ONE userItemPairs definition, so this pin covers both
    val p = plan("q168_link_ra")
    assert(p.contains("LessThanOrEqual(user_id,60)"),
      s"expected the user_id <= 60 cohort filter in PushedFilters:\n$p")
  }

  test("ER blocked pair joins are equi-joins on the block key, never nested-loop") {
    for (q <- Seq("q171_er_blocking", "q177_er_damerau")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q must join on the (nk, seg) block key:\n$p")
    }
  }

  test("triangle census: wedge and closure joins are equi-joins, never all-pairs") {
    val p = plan("q257_triangle_census")
    assert(!p.contains("CartesianProduct"), s"no all-pairs join:\n$p")
    // the Stage.mat barriers run the deg/wedge/closure stages eagerly, so
    // the FINAL plan shows only the post-triangle joins — still: they must
    // be equi-joins, and nothing anywhere may plan all-pairs (the
    // suite-wide CartesianProduct gate covers every declared query's
    // final plan; the eager stages share the same builder code asserted
    // here at fixture scale by GraphOpsSpec's hand graphs)
    val equiJoins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
        l.contains("ShuffledHashJoin"))
    assert(equiJoins >= 2, s"per-node/local-cc joins must plan as equi-joins:\n$p")
  }

  /** Suite-wide single-partition-window gate (VERDICT r7 ask #2).
    *
    * An unpartitioned Window moves every input row to ONE task — the one
    * plan shape AQE cannot save at 100 TB. The engine's discipline is
    * that such windows may only run over inputs that are BOUNDED BY
    * CONSTRUCTION: a limit/TakeOrdered, or an aggregate whose grouping
    * domain is fixed-size (range-bucket histograms ≤1024 rows, value
    * histograms over a small-integer domain, tile/band tables). The
    * structural part (limit in the subtree) is auto-detected; the
    * histogram cases cannot be told apart from a fact-keyed aggregate
    * mechanically (q160's per-customer aggregate was exactly that trap,
    * r7), so they must be ALLOWLISTED here with a one-line justification
    * naming the bounded domain. Default-deny: a new query that plans an
    * unpartitioned window over anything else fails this test until its
    * plan is rewritten (Quantiles.pairRankSelect, per-bucket windows,
    * broadcast rank lookup) or consciously justified.
    */
  /** Allowlist entry for the window gate: the BOUND is a live predicate
    * (VERDICT r8 ask #8) — `maxRows` is the most rows this query's
    * unpartitioned-window input may ever hold at the sf0.01 gate
    * fixture, derived from the named bounded domain (bucket table ≤1024,
    * day grain ≤ span, count-of-counts ≤ distinct multiplicities, …).
    * The gate EXECUTES each allowlisted window's input subtree and
    * counts it, so an edit that unbounds the input (the q160 trap: a
    * fact-keyed aggregate sliding under a prose justification) fails
    * with the declared domain in the message instead of passing on
    * faith.
    */
  private final case class WinBound(maxRows: Long, why: String)

  test("suite-wide: every unpartitioned Window input is bounded, allowlisted + within its declared bound") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow,
      GlobalLimit, LocalLimit}
    val allow: Map[String, WinBound] = Map(
      "q58_sequence_packing" -> WinBound(1100, "bucket-offset cumulation over the ≤#buckets offsets table (Packing idiom; corpus windows per bucket)"),
      "q83_length_histogram" -> WinBound(1100, "fixed-width length-bucket histogram cumulation"),
      "q86_training_order" -> WinBound(1100, "key-range bucket-offset table (≤1024 rows)"),
      "q89_curation_v2" -> WinBound(1100, "key-range bucket-offset table (≤1024 rows)"),
      "q96_shard_manifest" -> WinBound(1100, "position-bucket offset tables (≤1024 rows each)"),
      "q106_quality_deciles" -> WinBound(1100, "range-bucket histogram cumulation (≤1024 rows)"),
      "q111_rate_spikes" -> WinBound(65536, "hour-grain aggregate — time-span-bounded domain (≤24·span days)"),
      "q312_hurst_rs" -> WinBound(65536, "hour-grain zero-filled spine (position rank) — time-span-bounded (q111 regime)"),
      "q313_permutation_entropy" -> WinBound(65536, "hour-grain zero-filled spine (lead windows) — time-span-bounded (q111 regime)"),
      "q124_entropy_auc" -> WinBound(1100, "range-bucket histogram cumulation (≤1024 rows)"),
      "q131_source_concentration" -> WinBound(1024, "source-level aggregate — catalog-sized domain, not fact-scaled"),
      "q306_mixture_alloc" -> WinBound(1024, "greedy budget fill over the source-catalog allocation table — catalog-sized, not fact-scaled"),
      "q156_skew_report" -> WinBound(4096, "count-of-counts histogram — distinct-multiplicity-sized (≤O(√2m))"),
      "q161_quantile_norm" -> WinBound(8192, "token-count value histogram — value-domain-sized"),
      "q175_kaplan_meier" -> WinBound(4096, "day-grain risk table — time-span-bounded"),
      "q184_rolling_window" -> WinBound(4096, "day-grain aggregate — time-span-bounded"),
      "q186_growth" -> WinBound(4096, "day-grain aggregate — time-span-bounded"),
      "q190_isotonic" -> WinBound(1024, "score-bin table — fixed bin domain"),
      "q192_abc_pareto" -> WinBound(1100, "revenue bucket-offset table (≤1024 rows; part-level cum windows per bucket)"),
      "q193_ks_test" -> WinBound(1100, "range-bucket CDF histogram (≤1024 rows)"),
      "q201_nelson_aalen" -> WinBound(4096, "day-grain hazard table — time-span-bounded"),
      // the next four were found by the see-through gate (r10): their
      // windows sit INSIDE Stage.mat'd stages, invisible to the pre-r10
      // final-plan-only audit
      "q222_log_rank" -> WinBound(4096, "day-grain duration histogram (at-risk cumsum) — time-span-bounded (q175 regime)"),
      "q238_classical_decomp" -> WinBound(4096, "day-grain daily series (MA/seasonal windows) — time-span-bounded"),
      "q239_kruskal_wallis" -> WinBound(1100, "midrank bucket-offset table (≤1024 rows; two-phase rank)"),
      "q310_mann_whitney" -> WinBound(1100, "midrank bucket-offset table (≤1024 rows; two-phase rank, shared with q239)"),
      "q346_wilcoxon_signed_rank" -> WinBound(1100, "midrank bucket-offset table (≤1024 rows; two-phase rank over |d|, shared with q239/q310)"),
      "q349_ansari_bradley" -> WinBound(1100, "midrank bucket-offset table (≤1024 rows; two-phase rank, shared with q239/q310)"),
      "q320_mood_median" -> WinBound(1100, "quantilesRaw bucket-count cumulation (≤1024 rows; single-group median, constant partition key folded)"),
      "q266_conformal" -> WinBound(1100, "pairRankSelect range-bucket offset tables (≤1024 rows each)"),
      "q259_changepoint" -> WinBound(4096, "day-grain prefix sums — time-span-bounded"),
      "q260_segmented_trend" -> WinBound(4096, "day-grain prefix sums — time-span-bounded"),
      "q261_hodges_lehmann" -> WinBound(1 << 22, "day-pair Walsh multiset — span²-bounded at day grain (q207 regime)"),
      "q263_acf_ljung_box" -> WinBound(4096, "day-grain lag windows + maxLag-row cumulation — time-span-bounded"),
      "q277_leadlag_beta" -> WinBound(4096, "day-spine lead/lag windows — time-span-bounded"),
      "q265_fdr_bh" -> WinBound(1024, "BH rank over the m-row p-value table — event-type-domain-sized"),
      "q268_skyline" -> WinBound(1100, "price-range bucket-offset table (≤1024 rows; distinct-price prefix max per bucket)"),
      "q271_neyman_sample" -> WinBound(64, "largest-remainder rank over the stratum-domain allocation table (5 rows)"),
      "q290_rich_club" -> WinBound(4096, "degree count-of-counts cumulation — distinct-multiplicity-sized (q156 regime)"),
      "q289_adversarial_validation" -> WinBound(1100, "range-bucket histogram cumulation (≤1024 rows; q124's scoreOrder regime, once per feature)"),
      "q295_sequence_gaps" -> WinBound(1100, "cross-bucket stitching over the ≤1024-row nonempty-bucket table"),
      "q207_theil_sen" -> WinBound(1 << 22, "day-pair slope table — span²-bounded at day grain, never corpus"),
      "q216_heaps_law" -> WinBound(1024, "log-bucket vocabulary-growth table — bounded bucket domain"),
      "q245_sorted_neighborhood" -> WinBound(1100, "two-phase rank bucket-offset table (≤1024 rows; corpus rank windows per bucket)"),
      "q322_runs_test" -> WinBound(65536, "hour-grain spine lag + single-group quantilesRaw bucket cumulation — time-span-bounded (q111 regime)"),
      "q323_durbin_watson" -> WinBound(65536, "hour-grain spine row_number/lag (trend residuals) — time-span-bounded (q111 regime)"),
      "q324_granger_lagf" -> WinBound(65536, "hour-grain two-series spine lags — time-span-bounded (q111 regime)"),
      "q332_gini_revenue" -> WinBound(1100, "midrank bucket-offset table (≤1024 rows; two-phase rank, shared with q239/q310)"),
      "q331_cornish_fisher" -> WinBound(1100, "quantilesRaw bucket-count cumulation (≤1024 rows; single-group cents quantiles, q320 regime)"),
      "q341_dickey_fuller" -> WinBound(65536, "hour-grain spine lag (unit-root regression) — time-span-bounded (q111 regime)"),
      "q343_dominant_period" -> WinBound(65536, "hourlySpine position rank — time-span-bounded (q111 regime); lag pairs ride the catalog join, not a window"),
      "q345_cvm_test" -> WinBound(1100, "mergedCdf bucket-offset table (≤1024 rows; per-bucket cum windows, q193's kernel)"))
    // Audits the final optimized plan AND every Stage.mat'd subtree —
    // a barrier truncates lineage, so without the recorder hook a window
    // sliding inside a mat'd stage silently leaves the gate (this round's
    // per-entry vacuity guard caught exactly four such occlusions:
    // q271/q290/q295/q306).
    def unboundedWindows(name: String, dir: String): Seq[LWindow] = {
      val staged = scala.collection.mutable.Buffer
        .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
      // synchronized: operators may run construction-time sub-jobs from
      // driver threads (percolationSweep's parallel sweep levels), so
      // mat barriers can fire concurrently
      graft.Stage.recorder = Some(p => staged.synchronized { staged += p })
      val top =
        try SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
        finally graft.Stage.recorder = None
      (staged.toSeq :+ top).flatMap(_.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collectFirst {
            case _: GlobalLimit => (); case _: LocalLimit => ()
          }.isEmpty => w
      })
    }
    // structural pass (default-deny) at the cheap fixture
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val bad = unboundedWindows(name, sf)
      if (bad.nonEmpty && !allow.contains(name))
        Some(s"$name: ${bad.map(w => w.orderSpec.map(_.sql).mkString(",")).mkString(" | ")}")
      else None
    }
    assert(offenders.isEmpty,
      s"""unpartitioned Window over a non-limit input in ${offenders.size} queries —
         |rewrite scale-safe (Quantiles.pairRankSelect / per-bucket windows) or
         |allowlist with a WinBound naming the bounded domain:
         |${offenders.mkString("\n")}""".stripMargin)
    // bound pass: execute each allowlisted window INPUT at sf0.01 (the
    // correctness-gate fixture, where a fact-keyed table already dwarfs
    // every declared domain bound) and hold it to the entry's predicate
    val sf01 = "/root/testdata/sf0.01"
    // per-entry vacuity guard (ADVICE r9): an allowlist entry whose query
    // stops planning any detectable unpartitioned window is STALE — either
    // the plan was rewritten scale-safe (drop the entry) or the optimizer
    // hides the window from detection (fix the detection). Aggregate
    // counting let a single multi-window query mask such a slip.
    val checkedPer = scala.collection.mutable.Map.empty[String, Int]
    val broken = allow.toSeq.sortBy(_._1).flatMap { case (name, wb) =>
      unboundedWindows(name, sf01).zipWithIndex.flatMap { case (w, i) =>
        val n = org.apache.spark.sql.graftbridge.ColumnBridge
          .ofRows(spark, w.child).count()
        checkedPer(name) = checkedPer.getOrElse(name, 0) + 1
        if (n > wb.maxRows)
          Some(s"$name window#$i: input has $n rows > declared bound ${wb.maxRows} (${wb.why})")
        else None
      }
    }
    val stale = allow.keys.toSeq.sorted.filter(checkedPer.getOrElse(_, 0) == 0)
    assert(stale.isEmpty,
      s"stale allowlist entries (no unpartitioned window detected — bound never " +
        s"exercised; drop the entry or fix the detection): ${stale.mkString(", ")}")
    assert(broken.isEmpty,
      s"""allowlisted unpartitioned Window inputs exceed their declared bounds —
         |the input is no longer the bounded domain the allowlist entry names;
         |rewrite the plan (per-bucket windows / rank selection) or re-derive
         |the bound WITH its domain justification:
         |${broken.mkString("\n")}""".stripMargin)
  }
}
