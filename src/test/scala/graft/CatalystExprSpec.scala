package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.catalyst.{GraftFunctions, GraftExtensions}
import graft.ops.Keys

/** Native Catalyst expressions: value semantics, null handling, SQL
  * registration (both temp-function and SparkSessionExtensions paths),
  * and codegen/interpreted agreement.
  */
class CatalystExprSpec extends SparkSpec {
  import spark.implicits._

  test("simhash64: identical text -> identical hash; null -> null") {
    val df = Seq(Some("a b c"), Some("A  B \n C"), None).toDF("t")
      .select(GraftFunctions.simhash64(col("t")).as("h"))
    val rows = df.collect()
    assert(rows(0).getLong(0) === rows(1).getLong(0),
      "case/whitespace-normalized equal text must collide")
    assert(rows(2).isNullAt(0))
  }

  test("simhash64 agrees between codegen and interpreted eval") {
    val texts = Seq("the quick brown fox", "lorem ipsum dolor sit amet", "x")
    val viaDf = texts.toDF("t")
      .select(GraftFunctions.simhash64(col("t"))).as[Long].collect()
    val direct = texts.map(t =>
      graft.catalyst.SimHash64.compute(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    assert(viaDf.toSeq === direct)
  }

  test("char_entropy_nanos matches an independent reference on random strings") {
    // independent reference: group codepoints with Scala collections and
    // reproduce the exact snap arithmetic (BigDecimal HALF_UP, Math.log)
    def ref(s: String): Long = {
      val cps = s.codePoints().toArray
      val n = cps.length.toDouble
      if (cps.isEmpty) 0L
      else cps.groupBy(identity).values.map { g =>
        val p = g.length / n
        val r9 = java.math.BigDecimal.valueOf(p * math.log(p))
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
        java.math.BigDecimal.valueOf(r9 * 1e9)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      }.sum
    }
    val rng = new scala.util.Random(7)
    val alphabet = "abcdefg 0123#.!\n"
    val texts = (1 to 60).map(_ =>
      (0 until (1 + rng.nextInt(120))).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString) ++
      Seq("a", "aa", " ", "the quick brown fox")
    val viaDf = texts.toDF("t")
      .select(GraftFunctions.charEntropyNanos(col("t"))).as[Long].collect()
    assert(viaDf.toSeq === texts.map(ref))
    // null -> null
    assert(Seq(Option.empty[String]).toDF("t")
      .select(GraftFunctions.charEntropyNanos(col("t"))).collect()(0).isNullAt(0))
  }

  test("cosine_sim: known values and nulls") {
    val df = Seq((Seq(1f, 0f), Seq(1f, 0f), Seq(0f, 2f)))
      .toDF("a", "b", "c")
    val (same, orth) = df.select(
      GraftFunctions.cosineSim(col("a"), col("b")),
      GraftFunctions.cosineSim(col("a"), col("c"))).as[(Double, Double)].head()
    assert(math.abs(same - 1.0) < 1e-12 && math.abs(orth) < 1e-12)
    val nullRow = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]])).toDF("a", "b")
      .select(GraftFunctions.cosineSim(col("a"), col("b"))).head()
    assert(nullRow.isNullAt(0))
  }

  test("cosine_sim mixes float and double arrays") {
    val v = Seq((Seq(1f, 2f, 3f), Seq(1.0, 2.0, 3.0))).toDF("f", "d")
      .select(GraftFunctions.cosineSim(col("f"), col("d"))).as[Double].head()
    assert(math.abs(v - 1.0) < 1e-12)
  }

  test("xxhash64_seeded: seed 42 matches the builtin, other seeds differ") {
    val df = Seq("alice/p1").toDF("s")
    val (builtin, seeded42, seededRef) = df.select(
      xxhash64(col("s")),
      GraftFunctions.xxhash64Seeded(42L, col("s")),
      GraftFunctions.xxhash64Seeded(0xCAFEBABEL, col("s"))).as[(Long, Long, Long)].head()
    assert(builtin === seeded42)
    assert(builtin !== seededRef)
  }

  test("refCompatPostKeyBase64 is a stable 12-char base64 key") {
    val k = Seq(("alice", "p1")).toDF("author", "permlink")
      .select(Keys.refCompatPostKeyBase64(col("author"), col("permlink"))).as[String].head()
    assert(k.length === 12 && k.endsWith("="))
    // deterministic across invocations
    val k2 = Seq(("alice", "p1")).toDF("author", "permlink")
      .select(Keys.refCompatPostKeyBase64(col("author"), col("permlink"))).as[String].head()
    assert(k === k2)
  }

  test("SQL surface: registerAll on the session") {
    // the suite session already injects the first three through
    // GraftExtensions; char_entropy_nanos resolves only via registerAll
    GraftFunctions.registerAll(spark)
    Seq(("a b", Seq(1f, 2f), Seq(2f, 4f))).toDF("t", "x", "y").createOrReplaceTempView("exprs_in")
    val row = spark.sql(
      """SELECT simhash64(t) AS sh, cosine_sim(x, y) AS cs,
        |       xxhash64_seeded(7, t) AS xh, char_entropy_nanos(t) AS ce
        |FROM exprs_in""".stripMargin).head()
    assert(!row.isNullAt(0) && math.abs(row.getDouble(1) - 1.0) < 1e-12 && !row.isNullAt(2))
    assert(!row.isNullAt(3))
  }

  test("SQL surface: SparkSessionExtensions injection registers the functions") {
    // A second getOrCreate in this JVM would share (and on stop, kill)
    // the suite's SparkContext, so exercise the injection contract
    // directly: apply the extensions and materialize their registry.
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val exts = new SparkSessionExtensions
    new GraftExtensions().apply(exts)
    val reg = org.apache.spark.sql.graftbridge.ColumnBridge
      .registerFunctions(exts, FunctionRegistry.builtin.clone())
    assert(reg.functionExists(FunctionIdentifier("simhash64")))
    assert(reg.functionExists(FunctionIdentifier("cosine_sim")))
    assert(reg.functionExists(FunctionIdentifier("xxhash64_seeded")))
  }

  test("portable_winnow matches the SQL conv(md5) derivation gram-by-gram") {
    // the native expression's 60-bit key must equal what the DuckDB
    // oracle computes; pin it against Spark's own conv/substring/md5
    // (same SQL DuckDB runs) for single-token texts, where the one
    // fingerprint IS the gram hash
    val words = Seq("alpha", "bravo-7", "ünïcode")
    val native = words.toDF("t")
      .select(GraftFunctions.portableWinnow(col("t")).as("f"))
      .as[Seq[Long]].collect().map(_.head)
    val sqlForm = words.toDF("t")
      .select(expr("cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"))
      .as[Long].collect()
    assert(native.toSeq === sqlForm.toSeq)
  }

  test("portable_winnow: window/short-doc semantics and codegen/interpreted agreement") {
    val texts = Seq("a b c d e f g h i", "one two", "", "   ", "x")
    val viaDf = texts.toDF("t")
      .select(GraftFunctions.portableWinnow(col("t"))).as[Seq[Long]].collect()
    val direct = texts.map(t => graft.catalyst.PortableWinnow
      .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t), 3, 4)
      .toLongArray().toSeq)
    assert(viaDf.map(_.toSeq).toSeq === direct)
    assert(direct(2).isEmpty && direct(3).isEmpty)  // no tokens -> no fingerprints
    assert(direct(1).size === 1 && direct(4).size === 1)  // short docs collapse
    // 9 tokens, k=3 -> 7 grams, w=4 -> 4 windows -> <= 4 distinct mins
    assert(direct(0).nonEmpty && direct(0).size <= 4)
    // sorted ascending, all within the 60-bit budget
    direct.foreach { fps =>
      assert(fps === fps.sorted)
      assert(fps.forall(h => h >= 0L && h < (1L << 60)))
    }
  }

  test("portable_shingles matches the conv(md5) gram hash in position order") {
    // element i must be the portable hash of the gram at token i+1 —
    // pinned against Spark's own conv/substring/md5 of the joined gram
    val text = "The quick  Brown\tfox jumps"
    val native = Seq(text).toDF("t")
      .select(GraftFunctions.portableShingles(col("t"), 3)).as[Seq[Long]].collect().head
    val grams = Seq("the quick brown", "quick brown fox", "brown fox jumps")
    val sqlForm = grams.toDF("g")
      .select(expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)"))
      .as[Long].collect().toSeq
    assert(native.toSeq === sqlForm)
    // sub-k docs yield nothing (span semantics, unlike portable_winnow)
    val short = Seq("one two", "", "   ").toDF("t")
      .select(GraftFunctions.portableShingles(col("t"), 3)).as[Seq[Long]].collect()
    assert(short.forall(_.isEmpty))
  }

  test("sorted_intersect_size matches array_intersect on random sorted-distinct arrays") {
    val rng = new scala.util.Random(13)
    val rows = (0 until 200).map { _ =>
      val a = Seq.fill(rng.nextInt(50))(rng.nextInt(80).toLong).distinct.sorted
      val b = Seq.fill(rng.nextInt(50))(rng.nextInt(80).toLong).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq(5L), Seq(5L)))
    val df = rows.toDF("a", "b")
    val out = df.select(
      GraftFunctions.sortedIntersectSize(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .as[(Long, Long)].collect()
    out.foreach { case (fast, ref) => assert(fast === ref) }
    // and it stays inside whole-stage codegen on a parquet-backed stage
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(GraftFunctions.shingleHashes(col("text"), 3).as("sh"))
      .select(GraftFunctions.sortedIntersectSize(col("sh"), col("sh")).as("n"))
    val p = docs.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("Found 1 WholeStageCodegen subtrees"),
      s"sorted_intersect_size fell out of codegen:\n${p.take(300)}")
    assert(docs.head().getLong(0) > 0)
  }

  test("misra-gries sketch keeps its presence and deviation guarantees under distributed merge") {
    // Zipf-ish stream across 32 partitions: the partial buffers must
    // serialize, merge, and compact without ever violating the
    // mergeable-summaries contract: est <= exact everywhere, deviation
    // <= N/(cap+1), and every token above the N/(cap+1) support line
    // survives compaction. cap=16 against ~200 distinct tokens forces
    // many compactions.
    val items = (1 to 200).flatMap(i => Seq.fill(2000 / i)(s"tok$i"))
    val exact = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n = items.size.toLong
    val cap = 16
    val sketch = items.toDF("tok").repartition(32)
      .agg(GraftFunctions.misraGriesTopK(col("tok"), cap).as("mg"))
      .select(explode(col("mg")).as(Seq("tok", "est")))
      .as[(String, Long)].collect().toMap
    assert(sketch.size <= cap)
    val bound = n / (cap + 1)
    sketch.foreach { case (tok, est) =>
      assert(est <= exact(tok), s"$tok overestimated: $est > ${exact(tok)}")
      assert(exact(tok) - est <= bound, s"$tok deviates past N/(cap+1): ${exact(tok) - est}")
    }
    exact.filter(_._2 > bound).keys.foreach { tok =>
      assert(sketch.contains(tok), s"frequent token $tok (> $bound) missing from sketch")
    }
  }

  test("damerau_levenshtein: full (unrestricted) DL semantics, codepoint-level") {
    val cases = Seq(
      ("ca", "abc", 2L),        // full DL; the restricted OSA variant says 3
      ("ab", "ba", 1L),         // adjacent transposition
      ("abc", "acb", 1L),
      ("recieve", "receive", 1L), // the canonical typo: one transposition
      ("kitten", "sitting", 3L),  // no transpositions → plain levenshtein
      ("", "abc", 3L), ("abc", "", 3L), ("", "", 0L),
      ("same", "same", 0L),
      ("açé", "aéç", 1L))       // codepoint-level transposition (bytes would say 2+)
    val df = cases.map(c => (c._1, c._2)).toDF("a", "b")
      .withColumn("d", GraftFunctions.damerauLevenshtein(col("a"), col("b")))
    val got = df.select("d").as[Long].collect()
    assert(got.toSeq === cases.map(_._3))
    // null propagation + never exceeds levenshtein, never undershoots |len diff|
    val n = Seq((Option("x"), Option.empty[String]))
      .toDF("a", "b")
      .select(GraftFunctions.damerauLevenshtein(col("a"), col("b")))
      .collect().head
    assert(n.isNullAt(0))
    val rnd = new scala.util.Random(7)
    val fuzz = Seq.fill(200)((rnd.alphanumeric.take(rnd.nextInt(8)).mkString,
      rnd.alphanumeric.take(rnd.nextInt(8)).mkString)).toDF("a", "b")
      .select(col("a"), col("b"),
        GraftFunctions.damerauLevenshtein(col("a"), col("b")).as("dl"),
        levenshtein(col("a"), col("b")).cast("long").as("lev"))
      .as[(String, String, Long, Long)].collect()
    fuzz.foreach { case (a, b, dl, lev) =>
      assert(dl <= lev, s"dl > lev for ($a, $b)")
      assert(dl >= math.abs(a.length - b.length), s"dl under length bound for ($a, $b)")
    }
  }

  test("jaro_winkler_micros: exact-rational micros, locked semantics") {
    val cases = Seq(
      // textbook values (round-half-up micros of the exact rational)
      ("MARTHA", "MARHTA", 961111L),      // jaro 17/18, prefix 3
      ("DIXON", "DICKSONX", 813333L),     // jaro 23/30, prefix 2
      ("DWAYNE", "DUANE", 840000L),
      ("JELLYFISH", "SMELLYFISH", 896296L), // no common prefix → jw = jaro
      ("CRATE", "TRACE", 733333L),
      ("abc", "abc", 1000000L),
      ("", "abc", 0L), ("abc", "", 0L), ("", "", 0L),
      ("a", "b", 0L),
      ("ab", "ba", 0L),                   // window 0 → no matches
      // boost threshold is jaro >= 0.7 (INCLUSIVE — the convention
      // reference libraries use): jaro here is exactly 0.7, prefix 1
      ("aadbc", "addbba", 730000L),
      // below 0.7 → NO boost even with a 4-char common prefix
      ("abcdxxxxxx", "abcdyyyyyy", 600000L),
      // prefix capped at 4: jaro 17/24 -> + 4*0.1*(7/24)
      ("ab", "abcdefghijklmnop", 766667L))
    val got = cases.map(c => (c._1, c._2)).toDF("a", "b")
      .withColumn("jw", GraftFunctions.jaroWinklerMicros(col("a"), col("b")))
      .select("jw").as[Long].collect()
    assert(got.toSeq === cases.map(_._3))
    // codepoint-level (NOT byte-level): against a reference byte-level
    // engine this diverges on multibyte text — documented; ASCII agrees
    val uni = Seq(("naïve", "naive"))
      .toDF("a", "b")
      .select(GraftFunctions.jaroWinklerMicros(col("a"), col("b")))
      .as[Long].collect().head
    // codepoints: la=lb=5, m=4, t=0, prefix "na" → jaro 13/15, jw 893333
    assert(uni === 893333L)
    // null propagation
    val n = Seq((Option("x"), Option.empty[String]))
      .toDF("a", "b")
      .select(GraftFunctions.jaroWinklerMicros(col("a"), col("b")))
      .collect().head
    assert(n.isNullAt(0))
    // range + symmetry + identity fuzz
    val rnd = new scala.util.Random(13)
    val fuzz = Seq.fill(300)((rnd.alphanumeric.take(rnd.nextInt(10)).mkString,
      rnd.alphanumeric.take(rnd.nextInt(10)).mkString)).toDF("a", "b")
      .select(col("a"), col("b"),
        GraftFunctions.jaroWinklerMicros(col("a"), col("b")).as("ab"),
        GraftFunctions.jaroWinklerMicros(col("b"), col("a")).as("ba"),
        GraftFunctions.jaroWinklerMicros(col("a"), col("a")).as("aa"))
      .as[(String, String, Long, Long, Long)].collect()
    fuzz.foreach { case (a, b, ab, ba, aa) =>
      assert(ab >= 0L && ab <= 1000000L, s"out of range for ($a, $b)")
      assert(ab === ba, s"asymmetric for ($a, $b)")
      assert(a.isEmpty || aa === 1000000L, s"self-sim != 1 for $a")
    }
  }

  test("gram_sums_micros: hand outer-product sums, layout [gxx|gxy|gyy]") {
    import spark.implicits._
    // vec1: x=(1,2) y=(3,4); vec2: x=(5,6) y=(7,8)
    // gxx = [[26,32],[32,40]], gxy = [[38,44],[48,56]], gyy = [[58,68],[68,80]]
    val df = Seq((Seq(1L, 2L), Seq(3L, 4L)), (Seq(5L, 6L), Seq(7L, 8L)))
      .toDF("xa", "ya")
    val g = df.agg(graft.catalyst.GraftFunctions
        .gramSumsMicros(col("xa"), col("ya"), 2).as("g"))
      .head().getSeq[Long](0)
    assert(g.toSeq === Seq(26L, 32L, 32L, 40L, 38L, 44L, 48L, 56L,
      58L, 68L, 68L, 80L))
    // merge path: the same result must come out of a grouped/repartitioned
    // plan (partial buffers merged across partitions)
    val g2 = df.repartition(2).agg(graft.catalyst.GraftFunctions
        .gramSumsMicros(col("xa"), col("ya"), 2).as("g"))
      .head().getSeq[Long](0)
    assert(g2.toSeq === g.toSeq)
  }
}
