package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Keys, Normalize, TextFns}

/** Comment → post-document pipeline (SURVEY.md §3 EP2; reference
  * handlers/comments.js:100-182).
  *
  * The whole chain is narrow (no shuffle) until the latest-wins dedup:
  * filter replies → repair metadata → markdown→text → harvest images →
  * stock-image tagging → project the 9-column post doc → partition
  * routing columns. The reference's per-comment existence probe +
  * refetch (J2/SRC4) collapses into latest-record-wins per key, which is
  * semantically identical in batch (the newest content wins) and needs
  * no point lookups at all — at 100 TB that turns O(rows) RPCs into one
  * window over a hash-partitioned shuffle.
  */
object Comments {

  /** Typed comment rows → deduped post documents. */
  def toPostDocs(comments: DataFrame): DataFrame =
    Merge.latestWins(postProjection(comments), Seq("post_id"), Seq(col("timestamp")))

  /** The projection without dedup — exposed for incremental merges where
    * dedup happens against existing state (Merge.upsert).
    */
  def postProjection(comments: DataFrame): DataFrame = {
    val meta = Normalize.parsedMetadata(col("json_metadata"))
    posts(comments)
      .withColumn("meta", meta)
      .withColumn("tags", Normalize.tagsOf(col("meta")))
      .withColumn("text_body", TextFns.mdToText(col("body")))
      .withColumn("image", TextFns.harvestImages(col("body"), Normalize.imagesOf(col("meta"))))
      .withColumn("stockimage_tags",
        when(Normalize.isStockImagePost(col("tags"), col("parent_permlink")),
             Normalize.hashtags(col("body"))))
      // P10: the 9-column post doc projection (comments.js:150-160)
      .select(
        Keys.postKey(col("author"), col("permlink")),
        col("author"), col("permlink"),
        col("title").as("text_title"),
        col("text_body"),
        col("parent_permlink"),
        col("tags"), col("image"), col("stockimage_tags"),
        // SNK2: the reference resets the post's `jobs` work-queue map on
        // every upsert (comments.js:163-166,176-177) — relationally the
        // doc always carries a fresh empty map
        map().cast("map<string,string>").as("jobs"),
        col("timestamp"),
        // SNK5/F9: monthly partition routing (comments.js:169-170),
        // engine-canonical 1-based months
        Normalize.partitionYear(col("timestamp")).as("year"),
        Normalize.partitionMonth(col("timestamp")).as("month"))
  }

  /** The keys [[toPostDocs]] yields, straight from the raw comments: no
    * metadata repair, text transform or dedup, so a key-locate probe
    * built on them need not wait for the transform. */
  def postKeys(comments: DataFrame): DataFrame =
    posts(comments).select(Keys.postKey(col("author"), col("permlink")))

  /** P5: replies leave the post pipeline (comments.js:113-116). */
  private def posts(comments: DataFrame): DataFrame =
    comments.filter(!Normalize.isReply(col("parent_author")))

  /** Account-activity projection of the comment stream: every comment
    * bumps its author's last_active (reference handlers/comments.js:179-181).
    */
  def accountActivity(comments: DataFrame): DataFrame =
    comments.select(col("author").as("name"), col("timestamp"))
}
