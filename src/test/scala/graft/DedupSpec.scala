package graft

import org.apache.spark.sql.functions._
import graft.text.{Dedup, TextStats}

/** Near-dup operator behavior on planted duplicates — the properties the
  * DuckDB oracle can't check (hash-keyed / approximate outputs).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val nearDup = base.replace("today", "tonight")        // 1-word edit
  private val unrelated = "completely different content about spark query engines and shuffles"

  private def docs = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated),
    (3L, base),                                                  // exact copy of 0
    (4L, "  The  QUICK brown fox jumps over the lazy dog near the river bank today ")
  ).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace-normalized copies") {
    val out = Dedup.exact(docs).orderBy("keep_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    // 0, 3, 4 collapse (4 differs only in case/whitespace); 1 and 2 stand alone
    assert(out === Array((0L, 3L), (1L, 1L), (2L, 1L)))
  }

  test("minhash LSH finds the planted near-dup pair and skips unrelated") {
    val pairs = Dedup.minhashNearDups(docs.filter(col("doc_id") < 3), threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("fuzzy decontamination flags the cross-corpus paraphrase only") {
    // corpus: paraphrase of benchmark doc 100 + two clean docs;
    // benchmark: the original + an unrelated probe
    val corpus = Seq((0L, nearDup), (1L, unrelated),
      (2L, "totally clean training text about gradient descent steps"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, base),
      (101L, "benchmark probe question on astronomy and telescopes"))
      .toDF("doc_id", "text")
    val hits = Dedup.fuzzyDecontamination(corpus, bench, threshold = 0.5)
      .select("id_c", "id_b").as[(Long, Long)].collect().toSet
    assert(hits === Set((0L, 100L)))
  }

  test("ngramJaccardPairs banded default equals the exact all-pairs kernel") {
    // 30 docs: 10 planted near-dup pairs (1-word edits) + 10 unrelated.
    // Banded MinHash + exact verify at 21 bands of 2 rows: the miss
    // probability per qualifying pair at t = 0.8 is (1 - 0.8^2)^21
    // <= 1e-9, so outputs must match exactly.
    val corpus = (0 until 10).flatMap { i =>
      val b = s"document number $i with a stable shared body of many words " +
        s"covering topic $i in detail for the dedup fixture today"
      Seq((i * 2L, b), (i * 2 + 1L, b.replace("today", "tonight")))
    } ++ (0 until 10).map(i => (100L + i, s"singleton text $i " + ("x" + i) * 3))
    val df = corpus.toDF("doc_id", "text")
    val banded = Dedup.minhashNearDups(df, threshold = 0.8, numHashes = 42, bands = 21)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = TextRefs.ngramJaccardPairsExact(df, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded === exact)
    assert(exact.size === 10)
  }

  test("banded dispatch equals exact on a seeded corpus with boundary-Jaccard pairs") {
    // 1-to-3-word edits of 30-token docs put pair Jaccards right around
    // the 0.8 threshold (J ≈ 0.7–0.9), exercising the band sizing where
    // it is tightest; the outputs must still match exactly.
    val rng = new scala.util.Random(11)
    def doc(seed: Int) = (0 until 30).map(i => s"w${seed}_${i}").mkString(" ")
    val corpus = (0 until 30).flatMap { s =>
      val base = doc(s)
      val toks = base.split(" ")
      val edits = 1 + rng.nextInt(3)
      val mutated = toks.clone()
      (0 until edits).foreach(_ => mutated(rng.nextInt(30)) = s"x${rng.nextInt(1000)}")
      Seq((s * 2L, base), (s * 2 + 1L, mutated.mkString(" ")))
    }
    val df = corpus.toDF("doc_id", "text")
    val banded = Dedup.minhashNearDups(df, threshold = 0.8, numHashes = 42, bands = 21)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = TextRefs.ngramJaccardPairsExact(df, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded === exact)
    assert(exact.nonEmpty, "fixture must generate pairs above the threshold")
  }

  test("prefix-filtered jaccard join equals the exact all-pairs kernel below the LSH cutoff") {
    // Sub-0.5 thresholds are the regime where banded MinHash cannot
    // prune and the prefix join is the designated scale path; the
    // Bayardo prefix theorem says candidates ⊇ qualifying pairs and the
    // verify is exact, so the outputs must match EXACTLY — no miss
    // bound, unlike the banded dispatch. Fixture mixes heavy-overlap
    // pairs, mid-overlap pairs, disjoint docs, and size-skewed docs
    // (the length filter's edge).
    val rng = new scala.util.Random(7)
    val corpus = (0 until 20).flatMap { s =>
      val n = 10 + rng.nextInt(30)
      val base = (0 until n).map(i => s"w${s}_$i").mkString(" ")
      val toks = base.split(" ")
      val keep = toks.take(n / 2 + rng.nextInt(n / 2))    // 50–100% overlap slice
      Seq((s * 2L, base),
        (s * 2 + 1L, (keep ++ Seq(s"x$s", s"y$s")).mkString(" ")))
    } ++ (0 until 5).map(i => (200L + i, s"lone $i " + (1 to 3).map(j => s"z${i}_$j").mkString(" ")))
    val df = corpus.toDF("doc_id", "text")
    for (t <- Seq(0.2, 0.4)) {
      val pref = Dedup.jaccardJoinPrefix(df, threshold = t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      val exact = TextRefs.ngramJaccardPairsExact(df, threshold = t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(pref === exact, s"threshold $t")
      assert(exact.nonEmpty, s"fixture must generate pairs at threshold $t")
    }
  }

  test("prefix join keeps a pair whose Jaccard is EXACTLY the threshold (FP boundary)") {
    // b's 7 shingles ⊂ a's 100 shingles, J = 7/100 == 0.07 bit-exactly —
    // but 100 * 0.07 computes as 7.000000000000001, so an unslacked
    // length filter rejects sz_b = 7 and an unslacked prefix ceil
    // shortens the prefix by one slot. The FpSlack guard must keep the
    // pair, matching the all-pairs kernel.
    val aToks = (0 until 102).map(i => s"bw$i")
    val a = aToks.mkString(" ")                 // 100 3-shingles
    val b = aToks.take(9).mkString(" ")         // 7 3-shingles, all ⊂ a's
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val exact = TextRefs.ngramJaccardPairsExact(df, threshold = 0.07)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact === Set((1L, 2L)), "fixture must sit exactly on the threshold")
    val pref = Dedup.jaccardJoinPrefix(df, threshold = 0.07)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pref === exact)
  }

  test("property: prefix join equals all-pairs on seeded random corpora and thresholds") {
    // hand-rolled property sweep (the MergeSpec style): random corpora
    // with planted overlap structure, random sub-0.5 thresholds — the
    // prefix/length/positional filter stack must never drop a
    // qualifying pair on ANY of them. Catches boundary bugs a single
    // fixture can't (ceil edges, size-ratio edges, singleton tokens).
    for (seed <- Seq(3, 17, 91)) {
      val rng = new scala.util.Random(seed)
      val corpus = (0 until 12).flatMap { s =>
        val n = 5 + rng.nextInt(40)
        val toks = (0 until n).map(i => s"t${seed}_${s}_$i")
        val overlapFrom = rng.nextInt(12)
        val stolen = (0 until rng.nextInt(n)).map(i => s"t${seed}_${overlapFrom}_$i")
        Seq((s * 2L, toks.mkString(" ")),
          (s * 2 + 1L, rng.shuffle(stolen ++ toks.take(n / 2)).mkString(" ")))
      }
      val df = corpus.toDF("doc_id", "text")
      val t = 0.05 + rng.nextDouble() * 0.4
      val pref = Dedup.jaccardJoinPrefix(df, threshold = t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      val exact = TextRefs.ngramJaccardPairsExact(df, threshold = t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(pref === exact, s"seed=$seed threshold=$t")
    }
  }

  test("containment join finds the quote inside the page, not the reverse") {
    val page = (0 until 100).map(i => s"page$i").mkString(" ")
    val quote = (10 until 30).map(i => s"page$i").mkString(" ")   // 20-token excerpt
    val other = (0 until 50).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, page), (2L, quote), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.containmentJoinPrefix(df, threshold = 0.9)
      .select("id_a", "id_b", "containment").as[(Long, Long, Double)].collect()
    // quote ⊂ page at containment 1.0; the page is NOT contained in the
    // quote (|page∩quote|/|page| ≈ 0.18); `other` shares nothing
    assert(out.toSeq === Seq((2L, 1L, 1.0)))
    // symmetric Jaccard misses this pair entirely at the same threshold
    val j = TextRefs.ngramJaccardPairsExact(df, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(j.isEmpty)
  }

  test("jaccard: identical -> 1.0, disjoint -> 0.0") {
    val df = Seq((Seq("a", "b"), Seq("a", "b"), Seq("x", "y")))
      .toDF("s1", "s2", "s3")
    val (same, disj) = df.select(
      Dedup.jaccard(col("s1"), col("s2")), Dedup.jaccard(col("s1"), col("s3")))
      .as[(Double, Double)].head()
    assert(same === 1.0 && disj === 0.0)
  }

  test("simhash: near-dups are hamming-close, unrelated far") {
    val out = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(0L), out(3L)) === 0)            // identical text
    assert(ham(out(0L), out(1L)) < 12)             // 1-word edit stays close
    assert(ham(out(0L), out(2L)) > ham(out(0L), out(1L)))
  }

  test("fingerprint is whitespace/case-invariant and content-sensitive") {
    val fps = docs.select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) === fps(4L))
    assert(fps(0L) !== fps(1L))
  }

  test("line-level dedup drops corpus-frequent lines, keeps order") {
    val boiler = "subscribe to our newsletter"
    val corpus = Seq(
      (1L, s"unique first line\n$boiler\nunique third line"),
      (2L, s"$boiler\nanother doc body"),
      (3L, s"totally novel content\n$boiler"),
      (4L, boiler)).toDF("doc_id", "text")            // all-boilerplate doc
    val out = Dedup.lineLevelDedup(corpus)
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(out === Array(
      (1L, "unique first line\nunique third line"),
      (2L, "another doc body"),
      (3L, "totally novel content"),
      (4L, "")))                                      // emptied, never dropped
  }

  test("representative selection keeps the best-scoring copy per cluster, singletons keep themselves") {
    val corpus = Seq(
      (1L, "short copy"), (2L, "the longer of the two copies"), (3L, "middle sized copy"),
      (7L, "a lone document with no duplicates")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b") // 1-2-3 one cluster
    val out = Dedup.selectRepresentatives(corpus, pairs,
        score = graft.text.TextStats.tokenCount(col("text")).cast("long"))
      .orderBy("doc_id")
      .select("doc_id", "cluster_id", "keep").as[(Long, Long, Boolean)].collect()
    // doc 2 (6 tokens) beats 3 (3 tokens) and 1 (2 tokens); 7 is its own cluster
    assert(out === Array((1L, 1L, false), (2L, 1L, true), (3L, 1L, false), (7L, 7L, true)))
  }

  test("repetition ratio: novel text -> 0, degenerate loop -> high") {
    val df = Seq(
      ("one two three four five six"),
      ("spam spam spam spam spam spam spam spam")).toDF("text")
    val r = df.select(graft.text.TextStats.repetitionRatio(col("text"), 2))
      .as[Double].collect()
    assert(r(0) === 0.0)
    assert(r(1) > 0.8)
  }

  test("ngram novelty: first occurrence is novel, later copies are not") {
    val body = (1 to 20).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (10L, body),                                  // first occurrence
      (20L, body),                                  // exact later copy -> 0 novelty
      (30L, (1 to 20).map(i => s"zz$i").mkString(" "))  // disjoint -> fully novel
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(corpus, n = 8)
      .select("doc_id", "novelty_r").as[(Long, Double)].collect().toMap
    assert(out(10L) === 1.0)
    assert(out(20L) === 0.0)
    assert(out(30L) === 1.0)
  }

  test("dup-span trim removes shared 8-grams, keeps unique suffixes in order") {
    val shared = (1 to 8).map(i => s"common$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$shared alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$shared one two three four five six seven eight"),
      (3L, (1 to 12).map(i => s"solo$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.dupSpanTrim(corpus, n = 8).orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_removed", "text_trimmed")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) === ((1L, 16L, 8L, "alpha beta gamma delta epsilon zeta eta theta")))
    assert(out(1) === ((2L, 16L, 8L, "one two three four five six seven eight")))
    assert(out(2) === ((3L, 12L, 0L, (1 to 12).map(i => s"solo$i").mkString(" "))))
  }

  test("shingles: short documents yield a single whole-text shingle") {
    val sh = Seq((0L, "two words")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text")).as("s")).as[Seq[String]].head()
    assert(sh === Seq("two words"))
  }
}
