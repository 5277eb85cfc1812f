package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Comments, Router, Votes}

/** Production op streams carry nulls the fixture doesn't: the pipeline
  * must degrade per-field (null through), never throw.
  */
class NullToleranceSpec extends SparkSpec {
  import spark.implicits._

  private def ops(payload: String) = {
    val line =
      s"""{"block_num":1,"timestamp":"2024-01-01T00:00:00","op_type":"comment","payload":"${payload.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
    spark.read.schema(graft.model.Schemas.opEnvelope)
      .json(spark.createDataset(Seq(line))(org.apache.spark.sql.Encoders.STRING))
  }

  test("comment with null title/body/json_metadata flows through") {
    val docs = Comments.toPostDocs(Router.comments(ops(
      """{"author":"a","permlink":"p","parent_author":"","parent_permlink":"x"}""")))
    assert(docs.count() === 1)
    val r = docs.select("text_title", "text_body", "tags", "image").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getSeq[String](2) === Seq.empty && r.getSeq[String](3) === Seq.empty)
  }

  test("null parent_author is treated as a top-level post") {
    val docs = Comments.toPostDocs(Router.comments(ops(
      """{"author":"a","permlink":"p","parent_permlink":"x","title":"t","body":"b"}""")))
    assert(docs.count() === 1)
  }

  test("text operators degrade to null/empty on null text, never throw") {
    val df = Seq((1L, Option("real words here to process fine")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    // per-row quality/entropy ops: null text -> null signals, no crash
    val g = graft.text.Quality.gopherQuality(df).orderBy("doc_id").collect()
    assert(g(0).getAs[Long]("n_words") === 6L)
    assert(g(1).isNullAt(g(1).fieldIndex("n_words")))
    val c = graft.text.Quality.c4Clean(df).orderBy("doc_id").collect()
    assert(c(1).isNullAt(c(1).fieldIndex("text_clean")))
    val e = df.select(graft.text.TextStats.charEntropy(col("text"))).collect()
    assert(e(0).getDouble(0) > 0.0 || e(1).isNullAt(0))
    // corpus ops: the null-text row contributes nothing to signals
    assert(graft.text.Dedup.ngramNovelty(df, n = 3).count() === 1)
    // trim is a SURGERY op: every input row must come back out (the
    // null-text row passes through with null token stats, not dropped)
    val trimmed = graft.text.Dedup.dupSpanTrim(df, n = 3).orderBy("doc_id").collect()
    assert(trimmed.length === 2)
    assert(trimmed(1).isNullAt(trimmed(1).fieldIndex("n_tokens")))
  }

  test("round-6b operators degrade gracefully on null/empty text and empty inputs") {
    val df = Seq((1L, Option("real words here to process into shingles fine")),
      (2L, Option.empty[String]), (3L, Option(""))).toDF("doc_id", "text")
    // similarity joins: null/empty-text rows contribute no shingle sets
    // and silently drop out (size >= 1 guard); no pairs, no crash
    assert(graft.text.Dedup.jaccardJoinPrefix(df, threshold = 0.4).count() === 0)
    assert(graft.text.Dedup.containmentJoinPrefix(df, threshold = 0.8).count() === 0)
    // robust fingerprint: null -> null key, groups fine
    assert(graft.text.Dedup.exact(df).count() >= 1)
    // snapshot delta with an empty new side: everything reads as removed
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      .withColumn("source", lit("s"))
    val delta = graft.text.Dedup.snapshotDelta(
        df.withColumn("source", lit("s")), empty)
      .select("n_added", "n_removed", "n_retained").as[(Long, Long, Long)].head()
    assert(delta._1 === 0L && delta._2 >= 1L && delta._3 === 0L)
    // DSIR: null-text docs contribute no tokens -> no output row, no crash
    assert(graft.analytics.Sampling.dsirLogWeights(
      df.withColumn("is_target", col("doc_id") === 1), col("is_target")).count() === 1)
    // priority sample with weight 0 rows: clock = -ln(u)/0 = Infinity —
    // they sort last and never enter a sample smaller than the set
    val weighted = Seq((1L, 5L), (2L, 0L), (3L, 7L)).toDF("doc_id", "w")
    val picked = graft.analytics.Sampling.prioritySample(weighted, col("w"), 2)
      .select("doc_id").as[Long].collect().toSet
    assert(!picked.contains(2L))
    // misra-gries over an all-null column: empty summary, no crash
    val nulls = Seq(Option.empty[String], Option.empty[String]).toDF("tok")
    val mg = nulls.agg(graft.catalyst.GraftFunctions.misraGriesTopK(col("tok"), 4))
      .head().getMap[String, Long](0)
    assert(mg.isEmpty)
  }

  test("sampling operators are null-key/null-domain safe") {
    import graft.analytics.Sampling
    // prioritySample: a null key has no hash -> null clock, which the
    // ascending nulls-first default would sort ahead of EVERY real
    // clock — null-keyed rows must be excluded, not guaranteed winners
    val weighted = Seq((Option(1L), 5L), (Option.empty[Long], 1000000L), (Option(3L), 7L))
      .toDF("doc_id", "w")
    val picked = Sampling.prioritySample(weighted, col("w"), 2)
      .select("doc_id").as[Option[Long]].collect().toSet
    assert(picked === Set(Option(1L), Option(3L)))
    // perGroupCap: null-keyed rows (null hash) must not occupy the first
    // k slots of their group — real-keyed docs rank first
    val grouped = Seq((Option(1L), "s"), (Option(2L), "s"),
      (Option.empty[Long], "s"), (Option.empty[Long], "s")).toDF("doc_id", "source")
    val capped = Sampling.perGroupCap(grouped, k = 2)
      .select("doc_id").as[Option[Long]].collect().toSet
    assert(capped === Set(Option(1L), Option(2L)))
    // temperatureResample: null-domain rows form their own stratum and
    // get sampled at that stratum's rate — NOT silently dropped by an
    // inner join where null never equals null. The null group here is
    // the smallest stratum -> rate 1.0 -> all three rows survive.
    val mixed = (1L to 20L).map(i => (i, Option("en"))) ++
      (21L to 23L).map(i => (i, Option.empty[String]))
    val kept = Sampling.temperatureResample(
        mixed.toDF("doc_id", "lang"))
      .filter(col("lang").isNull).count()
    assert(kept === 3L)
  }

  test("round-7 operators tolerate null rows: BPE learning, power iteration, directed PageRank") {
    // null text contributes no words — merges must match the corpus
    // without the null row, not throw
    val docs = Seq((1L, Option("low low low")), (2L, Option("lower lower")),
      (3L, Option.empty[String])).toDF("doc_id", "text")
    val m = graft.text.Vocab.bpeLearnMerges(docs, nMerges = 2)
      .orderBy("merge_rank").as[(Int, String, String, Long)].collect().toSeq
    assert(m === Seq((1, "l", "o", 5L), (2, "lo", "w", 5L)))
    // null embedding rows drop out of every aggregate (no crash, same
    // direction as the clean corpus)
    val emb = Seq((1L, Option(Seq(2.0f, 0.0f))), (2L, Option(Seq(-2.0f, 0.0f))),
      (3L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
    val pc = graft.text.Similarity.topPrincipalComponent(emb, dim = 2, iters = 2)
      .orderBy("j").as[(Long, Long, Double)].collect().toSeq
    assert(pc === Seq((1L, 1000000L, 1.0), (2L, 0L, 0.0)))
    // null src/dst edges form their own node like any other key — the
    // rank table stays total and finite (no crash, mass conserved)
    val edges = Seq((Option("a"), Option("b")), (Option.empty[String], Option("a")))
      .toDF("src", "dst")
    val pr = graft.analytics.GraphOps.pageRankDirectedMicros(edges, iters = 2)
      .select("rank_m").as[Long].collect()
    assert(pr.length === 3 && pr.forall(_ >= 0L))
  }

  test("vote with null weight lands in downvotes (<=0 branch is null-safe)") {
    val v = Seq(("alice", "bob", "p", Option.empty[Int]))
      .toDF("voter", "author", "permlink", "weight")
      .withColumn("timestamp", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val row = Votes.voterSets(Votes.keyed(v))
      .select("upvotes", "downvotes").as[(Seq[String], Seq[String])].head()
    // reference votes.js:17 — `weight > 0 ? up : down` has a TOTAL else
    // branch: undefined > 0 is false in JS, so a weightless vote is a
    // downvote, not a dropped vote
    assert(row._1 === Seq.empty && row._2 === Seq("alice"))
  }
}
