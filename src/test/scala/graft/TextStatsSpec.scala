package graft

import org.apache.spark.sql.functions._
import graft.text.TextStats

/** Text-analysis heuristics pinned by construction (the language-ID and
  * quality paths the oracle can't express).
  */
class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("langId picks the profile with most hits") {
    val rows = Seq(
      (0L, "the cat and the dog is in the house with it"),   // en
      (1L, "der hund und die katze ist von dem haus mit zu"), // de
      (2L, "el perro y la casa de que los es por con"),       // es
      (3L, "le chien est en le jardin et la maison pour un")) // fr
      .toDF("id", "text")
    val got = rows.select(col("id"), TextStats.langIdPredicted(col("text")).as("p"))
      .orderBy("id").as[(Long, String)].collect().map(_._2)
    assert(got === Array("en", "de", "es", "fr"))
  }

  test("bpeish tokens split words, numbers, punctuation") {
    val toks = Seq("hello, world42!").toDF("t")
      .select(TextStats.bpeishTokens(col("t"))).as[Seq[String]].head()
    assert(toks === Seq("hello", ",", "world", "42", "!"))
  }

  test("quality signals on a degenerate repeated document") {
    val (uniq, stop) = Seq("the the the the").toDF("t")
      .select(TextStats.uniqueWordRatio(col("t")), TextStats.stopwordRatio(col("t")))
      .as[(Double, Double)].head()
    assert(uniq === 0.25 && stop === 1.0)
  }

  test("char entropy: single-char text -> 0, uniform alphabet -> ln(k)") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "aaaaaaaa"),                 // one symbol: entropy 0
      (2L, "abcdabcdabcdabcd"),         // 4 symbols uniform: ln(4)
      (3L, "the quick brown fox")       // prose: somewhere in between
    ).toDF("doc_id", "text")
    val e = df.select(col("doc_id"), TextStats.charEntropy(col("text")))
      .as[(Long, Double)].collect().toMap
    assert(e(1L) === 0.0)
    assert(math.abs(e(2L) - math.log(4.0)) < 1e-6)
    assert(e(3L) > 0.0 && e(3L) < math.log(19.0))
  }

  test("mean word length") {
    val m = Seq("ab abcd").toDF("t")
      .select(TextStats.meanWordLength(col("t"))).as[Double].head()
    assert(m === 3.0)
  }

  test("vertical tab (0x0B) is whitespace to the tokenizer — the contract " +
       "the oracle-side explicit class mirrors (ADVICE r3)") {
    // Java regex \s matches VT; DuckDB RE2 \s does not, so every oracle
    // spells the class out via TextStats.wsClassSql. This pins the Spark
    // half: if tokens() ever stops splitting on VT, the class constant
    // and this test must change together.
    val toks = Seq("a\u000Bb c").toDF("t")
      .select(TextStats.tokens(col("t"))).as[Seq[String]].head()
    assert(toks === Seq("a", "b", "c"))
    val bpeish = Seq("x\u000B!").toDF("t")
      .select(TextStats.bpeishTokens(col("t"))).as[Seq[String]].head()
    assert(bpeish === Seq("x", "!"))  // VT itself is not a bpeish token
    assert(TextStats.wsClassSql.contains("""\x0B"""))
  }

  test("good-turing: bigram N_r table and unseen mass replay the fixture") {
    // "aa bb aa bb" → bigrams (aa bb)×2, (bb aa)×1: N_1 = N_2 = 1,
    // vocab 2, total 3 → r*(1) = 2·1e6·1 div 1 = 2e6, r*(2) = 0,
    // P0 = 1e6·1 div 3 = 333333.
    val docs = Seq("aa bb aa bb").toDF("text")
    val out = graft.analytics.LLMOps.goodTuring(docs).collect()
      .map(r => (r.getAs[Long]("r"), r.getAs[Long]("n_r"),
        r.getAs[Long]("n_r1"), r.getAs[Long]("r_star_micros")))
    assert(out.toSeq === Seq(
      (0L, 2L, 3L, 333333L),
      (1L, 1L, 1L, 2000000L),
      (2L, 1L, 0L, 0L)))
  }

  test("zipf fit: three-point log-log OLS replays the integer arithmetic") {
    // counts 4/2/1 at ranks 1/2/3 on the micro-ln grid: slope −1233661
    // (≈ −1.23, Zipf-ish), r² 977653. intercept_micros rides the
    // micros·1e6 grid because y is already in micros (defined output,
    // replayed identically by the oracle).
    val docs = Seq("aaa aaa bbb", "aaa ccc", "aaa bbb").toDF("text")
    val r = graft.analytics.LLMOps.zipfFit(docs).collect().head
    assert(r.getAs[Long]("n") === 3L)
    assert(r.getAs[Long]("slope_micros") === -1233661L)
    assert(r.getAs[Long]("intercept_micros") === 1429954733233L)
    assert(r.getAs[Long]("r_sign") === -1L)
    assert(r.getAs[Long]("r2_micros") === 977653L)
  }

  test("term burstiness: clumped terms outrank even spread at equal mass") {
    // z: docs (4,1,absent) of n=3 → S=5, Q=17, fano = 1e6·(3·17−25)
    // div (3·5) = 1733333; q: single hit → fano = 1e6·2 div 3 = 666666.
    val docs = Seq((1L, "z z z z"), (2L, "z"), (3L, "q")).toDF("doc_id", "text")
    val out = graft.analytics.LLMOps.termBurstiness(docs, minDf = 1, topK = 10)
      .collect()
      .map(r => (r.getAs[String]("w"), r.getAs[Long]("df"),
        r.getAs[Long]("n_occ"), r.getAs[Long]("mean_ppm"),
        r.getAs[Long]("fano_ppm")))
    assert(out.toSeq === Seq(
      ("z", 2L, 5L, 1666666L, 1733333L),
      ("q", 1L, 1L, 333333L, 666666L)))
  }

  test("npmi: perfect collocations score 1e6, independence scores 0-ish") {
    // bigram table: (u,v)×4 (w,v)×2 (u,x)×2 (y,z)×2, N=10 — y z only
    // ever co-occur → exactly 1e6; the rest replay the nanos-log grid.
    val docs = (Seq.fill(4)("u v") ++ Seq.fill(2)("w v") ++
      Seq.fill(2)("u x") ++ Seq.fill(2)("y z")).toDF("text")
    val out = graft.analytics.LLMOps.npmiCollocations(docs, minCount = 2, topK = 10)
      .collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Long]("c_ab"), r.getAs[Long]("npmi_micros")))
    assert(out.toSeq === Seq(
      ("y", "z", 2L, 1000000L),
      ("u", "x", 2L, 317393L),
      ("w", "v", 2L, 317393L),
      ("u", "v", 4L, 114985L)))
  }

  test("scaling curve: cross-entropy falls monotonically as prefixes grow") {
    // homogeneous corpus "a b": every added training doc raises c_ab,
    // so holdout CE must be strictly decreasing in k wherever a prefix
    // adds docs, and training sizes must be nondecreasing.
    val docs = (1L to 60L).map(i => (i, "a b")).toDF("doc_id", "text")
    def run() = graft.analytics.LLMOps.scalingCurve(docs).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_train_docs"),
        r.getAs[Long]("n_train_tokens"), r.getAs[Long]("vocab"),
        r.getAs[Long]("n_eval"), r.getAs[Long]("ce_total_nanos"),
        r.getAs[Long]("ce_mean_nanos")))
    val out = run()
    assert(out.toSeq === run().toSeq, "hash split must be deterministic")
    assert(out.length === 5)
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    val docsCum = out.map(_._2)
    assert(docsCum.zip(docsCum.tail).forall { case (a, b) => a <= b })
    assert(out.forall(_._4 === 2L)) // vocab is {a, b} at every prefix
    val ce = out.map(_._6)
    assert(ce.zip(ce.tail).zip(docsCum.zip(docsCum.tail)).forall {
      case ((c1, c2), (d1, d2)) => if (d2 > d1) c2 < c1 else c2 === c1
    }, s"CE must strictly drop when data is added: $out")
  }

  test("chunking covers the tail: every token lands in some chunk") {
    val dir = java.nio.file.Files.createTempDirectory("chunk_fix").toString
    // 100 tokens → starts 1, 33, and the CLAMPED 37 (not 65): chunks
    // 1..64, 33..96, 37..100 — the final token is covered. Also a
    // 10-token doc → one 10-token chunk, and all 4 chunks distinct.
    val t100 = (1 to 100).map(i => s"tok$i").mkString(" ")
    Seq((1L, t100, "en", "s", t100.length.toLong),
      (2L, (1 to 10).map(i => s"u$i").mkString(" "), "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q233_chunking")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_chunks"), r.getAs[Long]("chunk_tokens"),
        r.getAs[Long]("n_distinct"))).toMap
    assert(out(1L) === ((100L, 3L, 192L, 3L))) // 64 + 64 + 64
    assert(out(2L) === ((10L, 1L, 10L, 1L)))
    assert(out(-1L) === ((110L, 4L, 202L, 4L)))
  }

  test("heaps law: cumulative vocabulary tracks first occurrences only") {
    // doc_ids 1..3 → buckets 1/4/7; vocab grows 2 → 3 → 3 (doc 3
    // introduces nothing new), tokens 2 → 4 → 5.
    val docs = Seq((1L, "x y"), (2L, "x z"), (3L, "x")).toDF("doc_id", "text")
    val out = graft.analytics.LLMOps.heapsLaw(docs).collect()
      .map(r => (r.getAs[Long]("decile"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab")))
    val expect = Seq(
      (1L, 1L, 2L, 2L), (2L, 1L, 2L, 2L), (3L, 1L, 2L, 2L),
      (4L, 2L, 4L, 3L), (5L, 2L, 4L, 3L), (6L, 2L, 4L, 3L),
      (7L, 3L, 5L, 3L), (8L, 3L, 5L, 3L), (9L, 3L, 5L, 3L),
      (10L, 3L, 5L, 3L))
    assert(out.toSeq === expect)
  }
}
