package graft

import org.apache.spark.sql.functions._
import graft.text.Quality

/** Rule-level behavior of the Gopher / C4 quality filters on crafted
  * documents where each rule's trigger is known by construction (the
  * DuckDB oracle checks engine parity on the fixture corpus; this pins
  * the rules' semantics themselves).
  */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  private val goodBody =
    (1 to 60).map(i => s"word$i").mkString("the and of to be that have with ", " ", "")

  test("gopher: well-formed prose passes every rule") {
    val df = Seq((1L, goodBody)).toDF("doc_id", "text")
    val r = Quality.gopherQuality(df).head()
    assert(r.getAs[Boolean]("keep"))
    assert(r.getAs[Long]("n_words") === 68L)
    assert(r.getAs[Long]("n_stop_hits") === 8L)
  }

  test("gopher: word-count bounds and stopword rule fire") {
    val df = Seq(
      (1L, "too short"),                                     // < 50 words
      (2L, (1 to 60).map(i => s"w$i").mkString(" "))         // no stopwords
    ).toDF("doc_id", "text")
    val out = Quality.gopherQuality(df).orderBy("doc_id").collect()
    assert(!out(0).getAs[Boolean]("pass_words"))
    assert(out(1).getAs[Boolean]("pass_words"))
    assert(!out(1).getAs[Boolean]("pass_stopwords"))
    assert(out.forall(!_.getAs[Boolean]("keep")))
  }

  test("gopher: symbol / bullet / ellipsis ratios count what they should") {
    val text = "### hash heavy ###\n- bullet one\n- bullet two\nnormal line ...\nplain"
    val r = Quality.gopherQuality(Seq((1L, text)).toDF("doc_id", "text")).head()
    assert(r.getAs[Long]("n_words") === 14L)
    // 6 '#' + 1 '...' over 14 words
    assert(r.getAs[Double]("symbol_ratio_r") === 0.5)
    assert(r.getAs[Double]("frac_bullet_r") === 0.4)      // 2 of 5 lines
    assert(r.getAs[Double]("frac_ellipsis_r") === 0.2)    // 1 of 5 lines
  }

  test("c4: keeps only terminal-punctuated >=5-word non-js lines") {
    val text = Seq(
      "This line is long enough and ends well.",   // kept
      "Too short.",                                // < 5 words
      "this one has five words but no terminal punctuation",
      "It uses javascript so it is dropped.",      // js
      "Another proper sentence with enough words here!"
    ).mkString("\n")
    val r = Quality.c4Clean(Seq((1L, text)).toDF("doc_id", "text")).head()
    assert(r.getAs[Long]("n_lines") === 5L)
    assert(r.getAs[Long]("n_kept") === 2L)
    assert(r.getAs[String]("text_clean") ===
      "This line is long enough and ends well.\nAnother proper sentence with enough words here!")
    assert(!r.getAs[Boolean]("keep_doc"))                 // only 2 kept lines
  }

  test("c4: lorem-ipsum and brace flags kill the document") {
    val three = Seq(
      "First proper sentence with plenty of words here.",
      "Second proper sentence with plenty of words here.",
      "Third proper sentence with plenty of words here.").mkString("\n")
    val df = Seq(
      (1L, three),
      (2L, three + "\nLorem ipsum dolor sit amet consectetur."),
      (3L, three + "\ncode { brace }")).toDF("doc_id", "text")
    val out = Quality.c4Clean(df).orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("keep_doc"))
    assert(out(1).getAs[Boolean]("has_lorem") && !out(1).getAs[Boolean]("keep_doc"))
    assert(out(2).getAs[Boolean]("has_brace") && !out(2).getAs[Boolean]("keep_doc"))
  }

  test("gopher and c4 are shuffle-free single-pass projections") {
    import org.apache.spark.sql.execution.ExplainMode
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (df <- Seq(Quality.gopherQuality(docs), Quality.c4Clean(docs))) {
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("Exchange"), s"quality filters must not shuffle:\n$p")
    }
  }

  test("readability replays Flesch/FK integer micros from the three counts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("read_fix").toString
    // "The cat sat. It ran!": 5 words, 2 sentence runs, 5 vowel groups
    // → FRE = 206835000 − (1015000·5)÷2 − (84600000·5)÷5 = 119697500
    //   FKG = (390000·5)÷2 + (11800000·5)÷5 − 15590000 = −2815000
    Seq((1L, "The cat sat. It ran!", "en", "A", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q178_readability")(spark, dir).collect().head
    assert(r.getAs[Long]("n_docs") === 1L)
    assert(r.getAs[Long]("mean_fre_micros") === 119697500L)
    assert(r.getAs[Long]("mean_fkg_micros") === -2815000L)
  }
}
