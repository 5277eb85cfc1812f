package graft

import org.apache.spark.sql.functions._

import graft.analytics.Sampling
import graft.text.{Dedup, Scrub}

/** Curation-operator correctness: PII redaction semantics, benchmark
  * contamination, deterministic sampling, and dedup-cluster resolution
  * on graphs with known components.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("PII scrub redacts emails, phones, and IPs; counts agree") {
    val df = Seq(
      ("reach me at jane.doe+spam@sub.example.co.uk or (555) 123-4567", 1, 1, 0),
      ("server 192.168.1.254 and 10.0.0.1 are down", 0, 0, 2),
      ("no pii here at all", 0, 0, 0),
      ("a@b.io b@c.net 555.867.5309", 2, 1, 0)
    ).toDF("text", "e", "p", "i")
    val (ne, np, ni) = Scrub.piiCounts(col("text"))
    val rows = df.select(Scrub.scrubPii(col("text")).as("s"),
        ne.as("ne"), np.as("np"), ni.as("ni"), col("e"), col("p"), col("i"))
      .collect()
    rows.foreach { r =>
      val s = r.getString(0)
      assert(!s.matches(s".*${Scrub.EmailRe}.*"), s"email survived: $s")
      assert(r.getInt(1) === r.getInt(4), s"email count in: $s")
      assert(r.getInt(2) === r.getInt(5), s"phone count in: $s")
      assert(r.getInt(3) === r.getInt(6), s"ip count in: $s")
    }
    val scrubbed = rows.map(_.getString(0))
    assert(scrubbed(0).contains("<EMAIL>") && scrubbed(0).contains("<PHONE>"))
    assert(scrubbed(1).count(_ == '<') === 2 && scrubbed(1).contains("<IP>"))
    assert(scrubbed(2) === "no pii here at all")
  }

  test("contamination flags exactly the docs sharing a k-gram with the benchmark") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text with different words"),
      (3L, "we also say quick brown fox here")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox appears")).toDF("doc_id", "text")
    val out = Dedup.contamination(corpus, bench)
      .orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect()
    assert(out.map(r => r._1 -> r._3).toSeq ===
      Seq(1L -> true, 2L -> false, 3L -> true))
    assert(out(0)._2 >= 1 && out(1)._2 === 0)
  }

  test("stratified sample is deterministic and rate-ordered across strata") {
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) "hi" else "lo"))
      .toDF("k", "stratum")
    val keep = Sampling.stratifiedSample(df, "stratum", "k",
      Map("hi" -> 800, "lo" -> 200), defaultPerMille = 0)
    val counts = keep.groupBy("stratum").count().as[(String, Long)].collect().toMap
    // 2000 keys per stratum; hash buckets are uniform, so observed rates
    // sit near the configured per-milles
    assert(math.abs(counts("hi") - 1600L) < 200, s"hi=${counts("hi")}")
    assert(math.abs(counts("lo") - 400L) < 150, s"lo=${counts("lo")}")
    // byte-identical on re-evaluation (hash-based, not rand())
    assert(keep.agg(sum("k")).as[Long].head() === keep.agg(sum("k")).as[Long].head())
  }

  test("per-group cap keeps exactly k per group, deterministically") {
    val df = (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("doc_id", "source")
    val kept = Sampling.perGroupCap(df, k = 20)
    val counts = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(counts.values.toSet === Set(20L))
    assert(kept.agg(max("cap_rank")).as[Long].head() === 20L)
    // hash-ordered, not rand(): identical on re-evaluation
    val ids1 = kept.select("doc_id").as[Long].collect().sorted
    val ids2 = Sampling.perGroupCap(df, k = 20)
      .select("doc_id").as[Long].collect().sorted
    assert(ids1 === ids2)
  }

  test("training order is a permutation and follows the hash order") {
    val df = (0L until 500L).map(i => (i, "x")).toDF("doc_id", "text")
    val out = graft.text.Packing.trainingOrder(df, buckets = 8)
      .select("doc_id", "shuffle_key", "pos")
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._3).sorted === (1L to 500L).toArray)   // exact permutation
    // positions must order exactly like (key, doc_id)
    val byPos = out.sortBy(_._3).map(r => (r._2, r._1))
    assert(byPos === byPos.sorted)
    // not the identity: the hash actually shuffles
    assert(out.sortBy(_._3).map(_._1).take(20).toSeq !== (0L until 20L).toSeq)
  }

  test("sequence packing: two-phase prefix sum equals the serial cumsum") {
    val docs = (0L until 300L)
      .map(i => (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    // bucketSize = 32 forces multiple buckets so phase 2/3 are exercised
    val packed = graft.text.Packing.packOffsets(docs, seqLen = 16, bucketSize = 32)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    var running = 0L
    packed.foreach { case (id, n, start, firstSeq, lastSeq) =>
      assert(n === id % 7 + 1)
      assert(start === running, s"doc $id offset")
      assert(firstSeq === start / 16 && lastSeq === (start + n - 1) / 16)
      running += n
    }
    // spans agree with the chunked stream: doc crossing a 16-token
    // boundary reports the sequences on both sides
    assert(packed.exists { case (_, _, _, f, l) => l > f })
  }

  test("tf-idf ranks a document's rare distinctive term above ubiquitous ones") {
    val docs = Seq(
      (1L, "common common common zebra"),
      (2L, "common words only here"),
      (3L, "common words only here too")
    ).toDF("doc_id", "text")
    val top = graft.text.Relevance.tfIdfTopTerms(docs, k = 1)
      .orderBy("doc_id")
      .select("doc_id", "term").as[(Long, String)].collect()
    // "zebra" appears in 1 of 3 docs (idf ln 3), "common" in all (idf 0)
    assert(top.head === (1L, "zebra"))
    // df is corpus-wide: every doc's "common" has df = 3
    val dfOfCommon = graft.text.Relevance.tfIdfTopTerms(docs, k = 10)
      .filter(col("term") === "common").select("df").distinct().as[Long].collect()
    assert(dfOfCommon.toSeq === Seq(3L))
  }

  test("bm25 length normalization: equal tf of the query term ranks shorter docs higher") {
    val docs = Seq(
      (1L, "z a"),
      (2L, "z a filler1 filler2 filler3"),
      (3L, "z q w e r t y u i o p")
    ).toDF("doc_id", "text")
    // top-1 df term is "z" (df 3); tf("z") = 1 in every doc, dl = 2/5/11
    val ranked = graft.text.Relevance.bm25TopDocs(docs, nTerms = 1, topK = 3)
      .select("doc_id").as[Long].collect()
    assert(ranked.toSeq === Seq(1L, 2L, 3L))
  }

  test("chunking: stride windows cover every token and overlap by exactly `overlap`") {
    val doc = Seq((1L, (1 to 50).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = graft.text.Chunking.chunkTokens(doc, chunkSize = 32, overlap = 8)
      .orderBy("chunk_idx")
      .select("chunk_idx", "start_tok", "n_tok", "chunk_text")
      .as[(Int, Int, Int, String)].collect()
    assert(chunks.map(c => (c._1, c._2, c._3)).toSeq === Seq((0, 0, 32), (1, 24, 26), (2, 48, 2)))
    val Array(c0, c1, _) = chunks.map(_._4.split(" ").toSeq)
    assert(c0.takeRight(8) === c1.take(8))          // overlap region shared verbatim
    assert(chunks.flatMap(_._4.split(" ")).distinct.length === 50) // full coverage
  }

  test("chunking: zero-token documents yield no chunks instead of crashing") {
    // sequence(0, -1, +stride) throws "Illegal sequence boundaries" — an
    // empty or whitespace-only doc must contribute zero rows (the oracle's
    // range(0, 0, stride) is empty), not fail the whole job
    val docs = Seq((1L, ""), (2L, "   \n\t  "), (3L, "one two three"))
      .toDF("doc_id", "text")
    val chunks = graft.text.Chunking.chunkTokens(docs, chunkSize = 2, overlap = 1)
      .select("doc_id").as[Long].collect()
    assert(chunks.forall(_ === 3L) && chunks.nonEmpty)
  }

  test("temperature resample: rarest domain keeps 100%, 4x domain keeps ~50% at T=2") {
    val rows = (1 to 100).map(i => (i.toLong, "rare")) ++
      (101 to 500).map(i => (i.toLong, "big"))
    val df = rows.toDF("doc_id", "lang")
    val kept = Sampling.temperatureResample(df)
    val ppm = kept.select("lang", "keep_ppm").distinct()
      .as[(String, Long)].collect().toMap
    assert(ppm("rare") === 1000000L)   // (100/100)^-0.5 = 1
    assert(ppm("big") === 500000L)     // (400/100)^-0.5 = 0.5
    val counts = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts("rare") === 100L)                        // fully kept
    assert(counts("big") > 150L && counts("big") < 250L)   // ~50% of 400
  }

  test("kmeans: well-separated axis groups land in three distinct clusters") {
    // 4 points near each of three orthogonal directions in R^4
    def jig(i: Int): Float = 0.05f * i
    val rows = (0 until 12).map { i =>
      val axis = i / 4
      val base = Array.fill(4)(jig(i % 4))
      base(axis) = 1.0f
      (i.toLong, base.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.text.Similarity.kmeansAssign(emb, k = 3, dim = 4)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    val groups = (0 until 3).map(a => (0 until 4).map(j => out(a * 4L + j)).toSet)
    assert(groups.forall(_.size == 1), s"each axis group should be one cluster: $groups")
    assert(groups.flatten.toSet.size === 3, s"groups should use distinct clusters: $groups")
  }

  test("bigram perplexity: repetitive doc scores lower ppl than all-unique doc") {
    val docs = Seq(
      (1L, "a b a b a b a b"),
      (2L, "c d e f g h")
    ).toDF("doc_id", "text")
    val out = graft.text.LangModel.bigramPerplexity(docs)
      .select("doc_id", "n_bigrams", "ppl").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 === 7L && out(2L)._1 === 5L)
    assert(out(1L)._2 < out(2L)._2,
      s"repetitive doc must be lower-ppl: ${out(1L)._2} vs ${out(2L)._2}")
  }

  test("dup spans: overlapping shared 8-grams union-count, unique docs score zero") {
    val shared = (1 to 9).map(i => s"s$i").mkString(" ") // 9 tokens → two 8-gram shingles
    val docs = Seq(
      (1L, s"$shared u1 u2 u3"),            // 12 tokens, 9 covered
      (2L, s"v1 v2 v3 $shared"),            // 12 tokens, 9 covered
      (3L, (1 to 12).map(i => s"w$i").mkString(" ")) // no shared 8-gram
    ).toDF("doc_id", "text")
    val out = graft.text.Dedup.dupSpanCoverage(docs)
      .select("doc_id", "n_dup_shingles", "covered_tokens").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === ((2L, 9L)), s"doc1: ${out(1L)}")  // 2 shingles, 9-token union
    assert(out(2L) === ((2L, 9L)), s"doc2: ${out(2L)}")
    assert(out(3L) === ((0L, 0L)), s"doc3: ${out(3L)}")
  }

  test("int8 quantization: codes clamp to [-127,127] and reconstruction stays tight") {
    val emb = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.001f, 0.002f, -0.003f, 0.004f))
    ).toDF("vec_id", "embedding")
    val out = graft.text.Similarity.quantizeInt8(emb, dim = 4)
      .select("vec_id", "q_str", "max_abs_err").as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val q1 = out(1L)._1.split(",").map(_.toInt)
    assert(q1.toSeq === Seq(127, -64, 32, 0)) // scale = 127/1.0; -63.5 rounds away
    assert(q1.forall(v => v >= -127 && v <= 127))
    // max error is bounded by half a quantization step (1/(2·scale))
    assert(out(1L)._2 <= 0.5 / 127.0 + 1e-6)
    assert(out(2L)._2 <= 0.5 * 0.004 / 127.0 + 1e-6)
  }

  test("corpus report: dup rate counts repeated fingerprints, rates stay in [0,1]") {
    val sfDir = "/root/testdata/sf0.001"
    val report = graft.SparkEntry.queries("q68_corpus_report")(spark, sfDir)
    val rows = report.select("n_docs", "quality_pass_rate", "exact_dup_rate", "mean_uniq_ratio")
      .as[(Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (n, qp, dr, ur) =>
      n > 0 && qp >= 0 && qp <= 1 && dr >= 0 && dr <= 1 && ur >= 0 && ur <= 1
    })
    val totalDocs = report.agg(sum("n_docs")).as[Long].head()
    assert(totalDocs === 500L) // partitions the whole fixture corpus
  }

  test("DSIR weights separate target-like from off-target documents") {
    // target = docs whose tokens come from the "quality" vocabulary;
    // raw = everything. Docs written in the target vocabulary must
    // score positive logw (likelier under target than raw), docs in the
    // disjoint junk vocabulary negative; a mixed doc sits between.
    val qualityDoc = (i: Int) => (0 until 30).map(j => s"good${j % 12}").mkString(" ")
    val junkDoc = (i: Int) => (0 until 30).map(j => s"junk${(i * 7 + j) % 40}").mkString(" ")
    val corpus = ((0 until 10).map(i => (i.toLong, qualityDoc(i), true)) ++
      (10 until 20).map(i => (i.toLong, junkDoc(i), false)) ++
      Seq((99L, qualityDoc(0).split(" ").take(15).mkString(" ") + " " +
        junkDoc(0).split(" ").take(15).mkString(" "), false)))
      .toDF("doc_id", "text", "is_target")
    val out = Sampling.dsirLogWeights(corpus, isTarget = col("is_target"))
      .select("doc_id", "logw_r").as[(Long, Double)].collect().toMap
    (0 until 10).foreach(i => assert(out(i.toLong) > 0, s"target doc $i must score positive"))
    (10 until 20).foreach(i => assert(out(i.toLong) < 0, s"junk doc $i must score negative"))
    assert(out(99L) > out(10L) && out(99L) < out(0L), "mixed doc sits between")
  }

  test("scoreOrder: distributed rank equals the serial sort on skewed, tie-heavy scores") {
    // heavy ties (only 7 distinct scores across 4000 rows) and a skewed
    // clump exercise bucket boundaries and the doc_id tiebreak
    val rows = (0 until 4000).map(i => (i.toLong, (i % 7).toLong * (if (i % 13 == 0) 100L else 1L)))
    val ranked = graft.text.Packing.scoreOrder(rows.toDF("doc_id", "score"), col("score"))
      .select("doc_id", "rank").as[(Long, Long)].collect().toMap
    val expected = rows.sortBy { case (id, sc) => (sc, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    assert(ranked === expected)
  }

  test("source KL drift: a vocabulary-shifted feed scores far above normal feeds") {
    val normal = (0 until 50).map(i => s"word${i % 20}").mkString(" ")
    val shifted = (0 until 50).map(i => s"spam${i % 5}").mkString(" ")
    val docs = ((0 until 10).map(i => (s"feedA", normal)) ++
      (0 until 10).map(i => (s"feedB", normal)) ++
      (0 until 10).map(i => (s"feedX", shifted))).toDF("source", "text")
    val kl = graft.text.Vocab.sourceTokenKL(docs)
      .select("source", "kl_r").as[(String, Double)].collect().toMap
    assert(kl("feedX") > kl("feedA") + 0.5, s"shifted feed must drift: $kl")
    assert(kl("feedA") < 0.5 && kl("feedB") < 0.5, s"normal feeds stay near corpus: $kl")
    assert(kl.values.forall(_ >= 0.0), "KL is non-negative")
  }

  test("priority sample: heavy-weight rows dominate the weighted draw") {
    // 500 light rows (w=1) vs 100 heavy rows (w=100): heavy mass is
    // 10000/10500 ≈ 95%, so a 50-row draw is overwhelmingly heavy rows.
    // The clocks are hash-deterministic, so this is a fixed outcome,
    // not a flaky statistical assertion.
    val rows = ((0 until 500).map(i => (i.toLong, 1L)) ++
      (1000 until 1100).map(i => (i.toLong, 100L))).toDF("doc_id", "w")
    val sample = Sampling.prioritySample(rows, weight = col("w"), n = 50)
      .select("doc_id").as[Long].collect()
    assert(sample.length === 50)
    val heavy = sample.count(_ >= 1000)
    assert(heavy >= 40, s"expected heavy-row dominance, got $heavy/50")
    // clocks are reproducible: a second draw is identical
    val again = Sampling.prioritySample(rows, weight = col("w"), n = 50)
      .select("doc_id").as[Long].collect()
    assert(sample.toSeq === again.toSeq)
  }

  test("priority estimator: DLT threshold estimate is total-consistent and deterministic") {
    val r = SparkEntry.queries("q262_priority_estimator")(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(r.getAs[Long]("n_sample") === 100L)
    val est = r.getAs[Long]("est_total_micros")
    val truth = r.getAs[Long]("true_total_micros")
    // every sampled contribution is max(w, τ) ≥ w ≥ 1 token, so the
    // estimate is positive; DLT keeps the estimate within the same
    // order of magnitude as the truth on this fixture (the exact value
    // is hash-pinned by the oracle gate — this is the sanity envelope)
    assert(est > 0L && truth > 0L)
    assert(r.getAs[Long]("abs_err_ppm") < 1000000L,
      s"estimate $est vs $truth drifted beyond 100%")
  }

  test("connected components: chain, clique, and singleton-free pair graph") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (edge)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect()
    val byId = cc.map(r => r._1 -> r).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(byId(_)._2 === 1L))
    assert(Seq(10L, 11L, 12L).forall(byId(_)._2 === 10L))
    assert(Seq(20L, 21L).forall(byId(_)._2 === 20L))
    assert(byId(1L)._3 === 4L && byId(10L)._3 === 3L && byId(20L)._3 === 2L)
    assert(cc.count(_._4) === 3, "exactly one representative per cluster")
    assert(byId(1L)._4 && byId(10L)._4 && byId(20L)._4)
  }

  test("BPE pair counts: adjacent-pair frequencies over the pre-tokenization") {
    val docs = Seq((0L, "a b, a b"), (1L, "b")).toDF("doc_id", "text")
    // bpe-ish tokens of doc 0: a, b, ",", a, b → pairs (a,b) (b,,) (,,a) (a,b)
    val counts = graft.text.Vocab.bpePairCounts(docs)
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(counts(("a", "b")) === 2L)
    assert(counts(("b", ",")) === 1L)
    assert(counts((",", "a")) === 1L)
    assert(counts.size === 3, "single-token docs contribute no pairs")
  }

  test("OOV stats: per-doc out-of-vocab share against the corpus top-k vocab") {
    val docs = Seq((0L, "x x y"), (1L, "x z"), (2L, "  ")).toDF("doc_id", "text")
    val out = graft.text.Vocab.oovStats(docs, vocabSize = 1)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // vocab = {x} (3 occurrences); y and z are OOV
    assert(out(0L) === ((0L, 3L, 1L, 0.333333)))
    assert(out(1L) === ((1L, 2L, 1L, 0.5)))
    assert(!out.contains(2L), "token-free docs contribute no row")
  }

  test("cross-source duplication counts shared fingerprints per source pair") {
    val docs = Seq(
      (0L, "same   text", "feedA"), (1L, "Same text", "feedB"), // same normalized content
      (2L, "only in a", "feedA"), (3L, "only in b", "feedB"),
      (4L, "b private", "feedB")).toDF("doc_id", "text", "source")
    val m = Dedup.crossSourceDuplication(docs)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(m.length === 1)
    val (sa, sb, shared, na, nb, j) = m.head
    assert(sa === "feedA" && sb === "feedB")
    assert(shared === 1L && na === 2L && nb === 3L)
    assert(math.abs(j - 0.25) < 1e-9) // 1 / (2 + 3 - 1)
  }

  test("centroid outliers: decimal-exact centroid, planted off-manifold vector flagged") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 1f)), (3L, Seq(-1f, -1f))
    ).toDF("vec_id", "embedding")
    val out = graft.text.Similarity.centroidOutliers(vecs, dim = 2)
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    // centroid = (0.25, 0.25): the anti-diagonal vector scores cos = −1
    assert(out(3L)._2 === -1.0 && out(3L)._3)
    assert(out(2L)._2 === 1.0 && !out(2L)._3)
    assert(!out(0L)._3 && !out(1L)._3)
  }

  test("alternating components agree with propagation on chain/clique/edge fixtures") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (7L, 7L)).toDF("id_a", "id_b")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    val prop = key(Dedup.connectedComponents(pairs))
    val alt = key(Dedup.connectedComponentsAlternating(pairs))
    assert(prop === alt)
    // labels shuffled: ids renumbered so the component min is NOT an
    // endpoint pattern the algorithms could luck into
    val shuffled = Seq((9L, 5L), (5L, 30L), (30L, 2L), (41L, 40L)).toDF("id_a", "id_b")
    assert(key(Dedup.connectedComponents(shuffled)) ===
      key(Dedup.connectedComponentsAlternating(shuffled)))
  }

  test("adversarial 2k-node chain: alternation converges in O(log² n) rounds " +
    "and the diameterHint switch escalates to it") {
    val n = 2000
    val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val (df, rounds) = Dedup.alternatingWithRounds(chain)
    val cc = df.as[(Long, Long, Long, Boolean)].collect()
    assert(cc.length === n)
    assert(cc.forall(_._2 === 0L), "every chain node labels to the component min")
    assert(cc.forall(_._3 === n.toLong))
    assert(cc.count(_._4) === 1)
    // O(log² n): log2(2000) ≈ 11 → the bound is ~121 worst case, but the
    // alternation folds a path in far fewer — a propagation would need
    // ~2000 rounds, so any count this side of 25 proves the regime change
    assert(rounds <= 25, s"alternation took $rounds rounds on a ${n}-node path")
    // the public entry point escalates automatically once diameterHint
    // propagation rounds fail to converge, and still labels correctly
    val viaSwitch = Dedup.connectedComponents(chain, diameterHint = 4)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(viaSwitch.length === n && viaSwitch.forall(_._2 === 0L))
  }

  test("BPE merge learning matches the hand-computed Sennrich example") {
    // corpus: low ×3, lower ×2, newest ×1 (the canonical BPE fixture).
    // pair counts at start: (l,o)=5, (o,w)=5, (w,e)=3, (e,r)=2, rest 1.
    //  merge 1: tie at 5 → (a,b) lexicographic → (l,o), n=5
    //  merge 2: (lo,w)=5                                  → (lo,w), n=5
    //  merge 3: tie at 2 between (e,r) and (low,e) → 'e'<'low' → (e,r)
    //  merge 4: (low,er)=2
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val m = graft.text.Vocab.bpeLearnMerges(docs, nMerges = 4)
      .orderBy("merge_rank")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m === Seq((1, "l", "o", 5L), (2, "lo", "w", 5L),
      (3, "e", "r", 2L), (4, "low", "er", 2L)))
  }

  test("BPE merge application is greedy left-to-right: 'a a a' fuses once under (a,a)") {
    // ' a a a ' under merge (a,a): the literal replace consumes the
    // middle token — ' aa a ', exactly greedy BPE. The next round can
    // then learn (aa,a). Also pins the tie-break and exhaustion path.
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m = graft.text.Vocab.bpeLearnMerges(docs, nMerges = 5)
      .orderBy("merge_rank")
      .as[(Int, String, String, Long)].collect().toSeq
    // start: ' a  a  a ' ×2 → (a,a)=4 → merge1 (a,a,4); then ' aa  a '
    // ×2 → (aa,a)=2 → merge2 (aa,a,2); then ' aaa ' has no pairs → the
    // loop exhausts at 2 merges despite nMerges=5
    assert(m === Seq((1, "a", "a", 4L), (2, "aa", "a", 2L)))
  }

  test("BPE fuses adjacent non-overlapping occurrences: 'dodo' -> [do, do] -> dodo") {
    // the single-space encoding regression (r7 review): ' d o d o '
    // under merge (d,o) used to yield ' do d o ' because the first
    // match consumed the shared delimiter; the double-space encoding
    // must fuse both occurrences so merge 2 can learn (do,do)
    val docs = Seq((1L, "dodo")).toDF("doc_id", "text")
    val m = graft.text.Vocab.bpeLearnMerges(docs, nMerges = 3)
      .orderBy("merge_rank")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m === Seq((1, "d", "o", 2L), (2, "do", "do", 1L)))
  }

  test("BPE encode applies the learned merges to the vocabulary in rank order") {
    // same low/lower/newest fixture: merges (l,o),(lo,w),(e,r),(low,er)
    // → 'low' fuses to 1 token, 'lower' to 1 ([low er] → lower),
    // 'newest' never matches a merge and stays 6 characters
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val enc = graft.text.Vocab.bpeEncodeWordTokens(docs, nMerges = 4)
      .as[(String, Long)].collect().toMap
    assert(enc === Map("low" -> 1L, "lower" -> 1L, "newest" -> 6L))
  }

  test("Kneser-Ney bigram table matches hand-computed integer nanos") {
    // corpus "a b a b a c": bigrams (a,b)=2, (b,a)=2, (a,c)=1;
    // ctx(a)=3, ctx(b)=2; N1+(a·)=2, N1+(b·)=1; N1+(·a)=1, N1+(·b)=1,
    // N1+(·c)=1; N1+(··)=3; d=0.75.
    //  P(b|a) = (2−.75)/3·1e9 → (1250000*1000) div 3 = 416666666
    //           + λ(a)=(750000*2*1000) div 3 = 500000000 → ·(1/3):
    //             (5e8*1) div 3 = 166666666          → 583333332
    //  P(c|a) = (250000*1000) div 3 = 83333333 + 166666666 → 249999999
    //  P(a|b) = (1250000*1000) div 2 = 625000000
    //           + λ(b)=(750000*1000) div 2 = 375000000 → (3.75e8) div 3
    //             = 125000000                          → 750000000
    val docs = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val p = graft.text.LangModel.kneserNeyTop(docs, topK = 10)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(p === Seq(("a", "b", 2L, 583333332L), ("b", "a", 2L, 750000000L),
      ("a", "c", 1L, 249999999L)))
    // per-context mass sanity: observed P(·|a) + the unseen-(a,a)
    // continuation share (5e8 div 3) must land within the documented
    // floor-loss envelope of 1e9
    val total = 583333332L + 249999999L + 166666666L
    assert(total <= 1000000000L && total >= 1000000000L - 10L)
  }

  test("source concentration: hand-computed Gini/HHI micros on a 3-source corpus") {
    // counts [1,1,2]: n=3, T=4, A = Σi·c = 1+2+6 = 9,
    // gini = (2·9 − 4·4)·1e6 div 12 = 2e6 div 12 = 166666
    // hhi  = (1+1+4)·1e6 div 16 = 375000
    val docs = Seq((1L, "s1"), (2L, "s2"), (3L, "s3"), (4L, "s3"))
      .toDF("doc_id", "source")
    // the q131 plan, inline on the fixture (the declared query reads the
    // parquet table; the arithmetic under test is identical)
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    val c = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("c").asc, col("source").asc)
    val r = c.withColumn("i", row_number().over(w))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("t"),
        sum(col("i").cast(D) * col("c")).as("a"),
        sum(col("c").cast(D) * col("c")).as("sq"))
      .select(col("n"),
        call_function("div",
          (lit(2).cast(D) * col("a") - (col("n").cast(D) + 1) * col("t")) * 1000000,
          col("n").cast(D) * col("t")).as("gini_m"),
        call_function("div", col("sq") * 1000000,
          col("t").cast(D) * col("t")).as("hhi_m"))
      .as[(Long, Long, Long)].head()
    assert(r === ((3L, 166666L, 375000L)))
    // uniform distribution → gini 0; single source → hhi 1e6
    val uni = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "source")
    val cu = uni.groupBy(col("source")).agg(count(lit(1)).as("c"))
    val ru = cu.withColumn("i", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("c").asc, col("source").asc)))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("t"),
        sum(col("i").cast(D) * col("c")).as("a"))
      .select(call_function("div",
        (lit(2).cast(D) * col("a") - (col("n").cast(D) + 1) * col("t")) * 1000000,
        col("n").cast(D) * col("t")).as("g"))
      .as[Long].head()
    assert(ru === 0L)
  }

  test("stratified k-fold deals every stratum round-robin: fold sizes differ by at most one") {
    val dir = java.nio.file.Files.createTempDirectory("kfold_fix").toString
    // en has 7 docs → fold sizes (2,2,1,1,1) whatever the hash order;
    // fr has 3 → one doc in each of three folds (empty folds absent)
    ((1 to 7).map(i => (i.toLong, s"doc $i", "en", "A", 5L)) ++
      (8 to 10).map(i => (i.toLong, s"doc $i", "fr", "A", 5L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q173_stratified_kfold")(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("fold"),
        r.getAs[Long]("n_docs"), r.getAs[Boolean]("balanced")))
    val en = out.filter(_._1 == "en")
    assert(en.map(_._3).sorted.toSeq === Seq(1L, 1L, 1L, 2L, 2L))
    assert(en.map(t => t._2 -> t._3).toMap === Map(0L -> 2L, 1L -> 2L,
      2L -> 1L, 3L -> 1L, 4L -> 1L)) // round-robin pins sizes per fold
    val fr = out.filter(_._1 == "fr")
    assert(fr.length === 3 && fr.forall(_._3 == 1L))
    assert(out.forall(_._4)) // balanced certificate holds everywhere
  }

  test("k-fold CV: leave-fold-out means from totals, pooled MAE and spread rows") {
    val dir = java.nio.file.Files.createTempDirectory("kfoldcv_fix").toString
    // 5 docs, one per fold: each doc's LOO mean is (150−x)/4 chars →
    // errors {25, 12.5, 0, 12.5, 25}e6 as a multiset (which fold gets
    // which error depends on the hash deal); pooled = 15e6, spread 25e6
    Seq((1L, "a", "en", "A", 10L), (2L, "b", "en", "A", 20L),
      (3L, "c", "en", "A", 30L), (4L, "d", "en", "A", 40L),
      (5L, "e", "en", "A", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q181_kfold_cv")(spark, dir).collect()
      .map(r => (r.getAs[Long]("fold"), r.getAs[Long]("n_eval"),
        r.getAs[Long]("mae_micros")))
    val folds = out.filter(_._1 < 5)
    assert(folds.length === 5 && folds.forall(_._2 == 1L))
    assert(folds.map(_._3).sorted.toSeq ===
      Seq(0L, 12500000L, 12500000L, 25000000L, 25000000L))
    assert(out.find(_._1 == 999L).get === ((999L, 5L, 15000000L)))
    assert(out.find(_._1 == 998L).get === ((998L, 0L, 25000000L)))
  }

  test("ESS of uniform importance weights equals the corpus size") {
    val dir = java.nio.file.Files.createTempDirectory("ess_fix").toString
    // identical docs → identical DSIR weights → ESS = (nw)²/(nw²) = n
    (1 to 8).map(i => (i.toLong, "same text here", "en", "A", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q187_ess")(spark, dir).collect().head
    assert(r.getAs[Long]("n_docs") === 8L)
    assert(r.getAs[Double]("ess_r") === 8.0)
    assert(r.getAs[Double]("ess_frac_r") === 1.0)
  }

  test("density clusters: DBSCAN partition invariants hold on the fixture corpus") {
    val rows = SparkEntry.queries("q258_density_clusters")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_core"),
        r.getAs[Long]("n_border"), r.getAs[Long]("n_points")))
    val (noise, clusters) = rows.partition(_._1 == -1L)
    assert(noise.length === 1 && noise.head._2 === 0L && noise.head._3 === 0L)
    // every real cluster has at least one core point and consistent totals
    assert(clusters.nonEmpty)
    assert(clusters.forall { case (_, c, b, p) => c >= 1L && c + b == p })
    // core+border+noise partitions the corpus exactly
    val n = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    assert(clusters.map(_._4).sum + noise.head._4 === n)
    // cluster ids are core-point ids, so never collide with the noise label
    assert(clusters.forall(_._1 >= 0L))
  }

  test("Good-Turing smooths the hand bigram table and prices the unseen mass") {
    val dir = java.nio.file.Files.createTempDirectory("gt_fix").toString
    // bigrams: "a b"×2, "b c"×1 → N_1=1, N_2=1; r*(1) = 2·N_2/N_1 = 2.0,
    // r*(2) = 3·N_3/N_2 = 0; unseen mass p0 = N_1/N = 1/3
    Seq((1L, "a b c"), (2L, "a b"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q284_good_turing")(spark, dir).collect()
      .map(r => (r.getAs[Long]("r"), r.getAs[Long]("n_r"),
        r.getAs[Long]("n_r_next"), r.getAs[Long]("r_star_micros")))
    assert(out.toSeq === Seq(
      (-1L, 3L, 1L, 333333L), (1L, 1L, 1L, 2000000L), (2L, 1L, 0L, 0L)))
  }

  test("percolation sweep: shared-CC contraction equals independent CC per threshold") {
    // q308 runs one independent CC per threshold; the shared form runs
    // each denser level's CC on the previous level's contracted
    // supernode graph. Stats must be bit-identical, and the output
    // comes back in ascending threshold order though the levels run
    // concurrently.
    val emb = graft.model.Tables(spark, "/root/testdata/sf0.001").embeddings
    def key(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val shared = key(GraphRefs.percolationSweepShared(emb))
    val indep = key(graft.analytics.CurationOps.percolationSweep(emb))
    assert(shared === indep)
    assert(indep.map(_._1) === Seq(35L, 50L, 65L), "thresholds ascend in output")
    // monotonicity sanity: lower threshold ⇒ ≥ edges, ≥ linked, ≥ max comp
    assert(indep.sliding(2).forall { case Seq(lo, hi) =>
      lo._2 >= hi._2 && lo._3 >= hi._3 && lo._5 >= hi._5 })
  }

  test("Hill estimator: k pins at 64 and the exponent is positive") {
    val r = SparkEntry.queries("q292_hill_tail_index")(
      spark, "/root/testdata/sf0.001").collect().head
    assert(r.getAs[Long]("k") === 64L)
    assert(r.getAs[Long]("x_ref") >= 1L)
    assert(r.getAs[Long]("mean_ln_ratio_nanos") >= 0L)
    assert(r.getAs[Long]("alpha_micros") > 0L)
  }

  test("dedup bias audit: dropped cohort carries the longer reprint copies") {
    import spark.implicits._
    // docs 1 "alpha beta" (en) and 2 "Alpha beta7" (en) share a robust
    // fingerprint; reprints +10000 suffix " -- <orig id> / 500 --"
    // (14 chars for 1-digit ids) and normalize into the same groups.
    // keep = min id → kept: doc1 (10 ch), doc3 "gamma" (fr, 5 ch);
    // dropped: doc2 (11) + reprints 10001 (24), 10002 (25), 10003 (19)
    val dir = java.nio.file.Files.createTempDirectory("bias_fix").toString
    Seq((1L, "alpha beta", "en", "A", 10L), (2L, "Alpha beta7", "en", "A", 11L),
      (3L, "gamma", "fr", "B", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q334_dedup_bias_audit")(spark, dir).collect()
      .map(r => (r.getAs[String]("cohort"), r.getAs[String]("lang"),
        r.getAs[Long]("n"), r.getAs[Long]("share_ppm"),
        r.getAs[Long]("mean_chars_micros")))
    assert(out.toSeq === Seq(
      ("dropped", "en", 3L, 750000L, 20000000L),
      ("dropped", "fr", 1L, 250000L, 19000000L),
      ("kept", "en", 1L, 500000L, 10000000L),
      ("kept", "fr", 1L, 500000L, 5000000L)))
  }

  test("ppl filter bias: the unpredictable-source doc lands in the high_ppl cohort") {
    import spark.implicits._
    // two repetitive docs from source R (all (x,x) bigrams — the LM
    // loves them) vs one all-unique-words doc from source S: S must be
    // the high_ppl cohort, R the keep cohort; shares are within-cohort
    val dir = java.nio.file.Files.createTempDirectory("pplb_fix").toString
    Seq((1L, "x x x x x", "en", "R", 9L), (2L, "x x x x x", "en", "R", 9L),
      (3L, "a b c d e", "en", "S", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q344_ppl_filter_bias")(spark, dir).collect()
      .map(r => (r.getAs[String]("cohort"), r.getAs[String]("source"),
        r.getAs[Long]("n"), r.getAs[Long]("share_ppm")))
    assert(out.toSeq === Seq(("high_ppl", "S", 1L, 1000000L),
      ("keep", "R", 2L, 1000000L)))
  }

  test("QL-Dirichlet: integer-nanos scores replay the smoothed language model") {
    import spark.implicits._
    // corpus: d1 "a a b", d2 "a c", d3 "b b b c" → C = 9, ctf a=3 b=4
    // c=2, every term df=2 → query = {a,b,c}; expected scores replay
    // ln9(tf·C + 2000·ctf) − ln9(C·(dl+2000)) per (doc, term)
    val dir = java.nio.file.Files.createTempDirectory("ql_fix").toString
    Seq((1L, "a a b", "en", "S", 5L), (2L, "a c", "en", "S", 3L),
      (3L, "b b b c", "en", "S", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q357_ql_dirichlet")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
        r.getAs[Long]("score_nanos")))
    def l9(x: Long) = math.round(math.log(x.toDouble) * 1e9)
    val ctf = Map("a" -> 3L, "b" -> 4L, "c" -> 2L)
    val docs = Map(1L -> Map("a" -> 2L, "b" -> 1L),
      2L -> Map("a" -> 1L, "c" -> 1L),
      3L -> Map("b" -> 3L, "c" -> 1L))
    val dls = Map(1L -> 3L, 2L -> 2L, 3L -> 4L)
    val exp = docs.map { case (d, tfs) =>
      d -> Seq("a", "b", "c").map(t =>
        l9(tfs.getOrElse(t, 0L) * 9 + 2000 * ctf(t)) -
          l9(9 * (dls(d) + 2000))).sum
    }
    assert(out.toSeq === exp.toSeq
      .map { case (d, sc) => (d, dls(d), sc) }
      .sortBy { case (d, _, sc) => (-sc, d) })
  }
}
