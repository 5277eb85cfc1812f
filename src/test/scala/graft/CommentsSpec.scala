package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.pipeline.{Comments, Router}

/** End-to-end comment pipeline behaviors (SURVEY.md §3 EP2; reference
  * handlers/comments.js:100-182), driven through the router from raw
  * op-envelope JSON exactly like the sync loop would.
  */
class CommentsSpec extends SparkSpec {
  import spark.implicits._

  private def envelope(blockNum: Long, ts: String, tpe: String, payload: String): String =
    s"""{"block_num":$blockNum,"timestamp":"$ts","op_type":"$tpe","payload":${ujsonQuote(payload)}}"""

  // minimal JSON string quoting for embedding a payload document
  private def ujsonQuote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def opsFromJson(lines: Seq[String]) = {
    import scala.jdk.CollectionConverters._
    spark.read.schema(graft.model.Schemas.opEnvelope)
      .json(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
  }

  private val commentPayload =
    """{"author":"alice","permlink":"p1","parent_author":"","parent_permlink":"hive-118554",
      |"title":"T","body":"hello #world","json_metadata":"{\"tags\":[\"hivestockimages\"]}"}"""
      .stripMargin.replace("\n", "")

  test("router + pipeline: comment envelope becomes a post doc") {
    val ops = opsFromJson(Seq(envelope(1, "2023-12-31T23:00:00", "comment", commentPayload)))
    val docs = Comments.toPostDocs(Router.comments(ops))
    assert(docs.count() === 1)
    val row = docs.select("author", "permlink", "text_title", "stockimage_tags").as[(String, String, String, String)].head()
    assert(row === (("alice", "p1", "T", "world")))
    // 1-based month partition routing at the year boundary (F9 delta)
    val ym = docs.select("year", "month").as[(Int, Int)].head()
    assert(ym === ((2023, 12)))
  }

  test("replies are dropped (comments.js:113-116)") {
    val reply = commentPayload.replace("\"parent_author\":\"\"", "\"parent_author\":\"someone\"")
    val ops = opsFromJson(Seq(
      envelope(1, "2024-01-01T00:00:00", "comment", commentPayload),
      envelope(1, "2024-01-01T00:00:00", "comment", reply)))
    assert(Comments.toPostDocs(Router.comments(ops)).count() === 1)
  }

  test("latest-wins on re-post of the same author/permlink (comments.js:118-142)") {
    val v1 = commentPayload.replace("\"title\":\"T\"", "\"title\":\"old\"")
    val v2 = commentPayload.replace("\"title\":\"T\"", "\"title\":\"new\"")
    val ops = opsFromJson(Seq(
      envelope(1, "2024-01-01T00:00:00", "comment", v1),
      envelope(2, "2024-01-02T00:00:00", "comment", v2)))
    val docs = Comments.toPostDocs(Router.comments(ops))
    assert(docs.count() === 1)
    assert(docs.select("text_title").as[String].head() === "new")
  }

  test("postKeys, read from the raw comments, is the key set toPostDocs yields") {
    val repost = commentPayload.replace("\"title\":\"T\"", "\"title\":\"again\"")
    val reply = commentPayload.replace("\"parent_author\":\"\"", "\"parent_author\":\"bob\"")
      .replace("\"permlink\":\"p1\"", "\"permlink\":\"r1\"")
    val other = commentPayload.replace("\"author\":\"alice\"", "\"author\":\"bob\"")
      .replace("\"json_metadata\":\"{\\\"tags\\\":[\\\"hivestockimages\\\"]}\"", "\"json_metadata\":\"{oops\"")
    val comments = Router.comments(opsFromJson(Seq(
      envelope(1, "2024-01-01T00:00:00", "comment", commentPayload),
      envelope(2, "2024-01-02T00:00:00", "comment", repost),
      envelope(2, "2024-01-02T00:01:00", "comment", reply),
      envelope(3, "2024-02-01T00:00:00", "comment", other))))
    val docKeys = Comments.toPostDocs(comments).select("post_id").as[Long].collect()
    assert(docKeys.length === 2)
    assert(Comments.postKeys(comments).as[Long].collect().toSet === docKeys.toSet)
  }

  test("non-stock-image post has null stockimage_tags (comments.js:84-98)") {
    val plain = commentPayload
      .replace("hive-118554", "other")
      .replace("{\\\"tags\\\":[\\\"hivestockimages\\\"]}", "{\\\"tags\\\":[\\\"misc\\\"]}")
    val ops = opsFromJson(Seq(envelope(1, "2024-01-01T00:00:00", "comment", plain)))
    val docs = Comments.toPostDocs(Router.comments(ops))
    assert(docs.select("stockimage_tags").head().isNullAt(0))
  }

  test("typed Dataset[Post] boundary round-trips the pipeline output") {
    val ops = opsFromJson(Seq(envelope(1, "2024-03-05T10:00:00", "comment", commentPayload)))
    val typed = graft.model.Entities.posts(Comments.toPostDocs(Router.comments(ops)))
    val p = typed.head()
    assert(p.author === "alice" && p.permlink === "p1" && p.year === 2024 && p.month === 3)
    assert(p.stockimage_tags === Some("world"))
    assert(p.jobs === Map.empty)
  }

  test("custom_json ops are routed but produce nothing (custom_jsons.js:2-3)") {
    val ops = opsFromJson(Seq(envelope(1, "2024-01-01T00:00:00", "custom_json", "{}")))
    assert(Router.customJsons(ops).count() === 1)
    assert(Router.comments(ops).count() === 0)
  }
}
