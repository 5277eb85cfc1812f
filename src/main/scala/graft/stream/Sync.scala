package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Schemas
import graft.pipeline.{Accounts, Comments, Merge, Router, Votes}

/** Structured-Streaming incremental sync (SURVEY.md §2.9; reference
  * listener.js:157-195).
  *
  * The reference's loop — poll a block batch, route ops, transform,
  * bulk-upsert, commit the offset after sink success — is exactly
  * Spark's micro-batch model:
  *
  *   - micro-batch trigger        ← the intended 3 s poll cadence (S1;
  *     `maxFilesPerTrigger` is the MAX_BLOCKS_TO_FETCH analog)
  *   - checkpointed offsets       ← the `settings` block-number doc (S2;
  *     committed after sink success, same ordering)
  *   - idempotent foreachBatch    ← the keyed bulk upsert (SNK1/S8):
  *     crash ⇒ batch replays ⇒ latest-wins merge absorbs duplicates
  *   - Trigger.AvailableNow       ← bounded backfill / --stop_block (S3)
  *
  * State (posts, voter sets, account activity) lives in the sink tables
  * and is merged per batch — mirroring the reference, where state lives
  * in OpenSearch, not the process (S5). No flatMapGroupsWithState needed.
  */
object Sync {

  /** One micro-batch of the sync: route the ops, run the three handler
    * pipelines, merge each into its state table — the reference's
    * `Promise.all` of the handlers plus one bulk barrier (S7), here as
    * literal concurrency inside one foreachBatch invocation, which Spark
    * runs as one unit before committing the offset.
    *
    *  1. The comment transform runs once, behind one `Stage.mat`.
    *  2. ONE key-locate scan of posts (`Merge.locate`: post_id, year,
    *     month) probes the batch's post keys ∪ vote keys, materialized
    *     (batch-sized). The posts merge takes its touched partitions
    *     from it, and the votes check against pre-merge keys ∪ batch
    *     keys — which IS the post-merge key set, since the merge never
    *     deletes a key — so votes on same-batch posts are kept (the
    *     reference races its handlers and drops them; the engine applies
    *     the intended ordering) without re-reading posts after the write.
    *  3. The three merges are computed concurrently (`Stage.concurrently`),
    *     then the three tables are written concurrently. A failure while
    *     computing cancels the other merges' jobs and writes nothing; a
    *     failed write lets the other writes finish. Either way the batch
    *     fails before its offset commits, and its replay converges.
    *
    * Every state read passes the schema of the frame merged into that
    * table, so none runs a schema-inference job.
    */
  def applyBatch(ops: DataFrame, stateDir: String): Unit = {
    val spark = ops.sparkSession
    val postsPath = s"$stateDir/posts"
    val setsPath  = s"$stateDir/vote_sets"
    val accPath   = s"$stateDir/accounts"

    val comments = Router.comments(ops)
    val votes    = Router.votes(ops)
    val accounts = Router.accountUpdates(ops)

    val newPosts = Comments.toPostDocs(comments).transform(graft.Stage.mat)
    val postKeys = newPosts.select(col("post_id"))
    val located = Merge.readState(spark, postsPath, Some(newPosts.schema)).map { state =>
      Merge.locate(state, postKeys.unionByName(Votes.keyed(votes).select(col("post_id"))),
        Seq("post_id")).transform(graft.Stage.mat)
    }

    // votes: semi-join against the post keys (J1), then merge the new
    // voter sets into the existing ones (A1 incremental)
    val knownPosts = located.fold(postKeys)(_.select(col("post_id")).unionByName(postKeys))
    val newSets = Votes.voterSets(Votes.existingOnly(votes, knownPosts))

    // accounts: max(last_active) across all three activity streams (A2)
    val activity = Accounts.lastActive(
      Comments.accountActivity(comments),
      Votes.accountActivity(votes),
      accounts.select(col("account").as("name"), col("timestamp")))

    // vote_sets/accounts are hash-keyed (no time partitioning): full
    // merge-overwrite here; the 100 TB twin buckets them by key so the
    // merge is a bucket-local co-located join. Each merged frame is
    // materialized before the paths just read are overwritten
    // (production twin: a mergeable table format's transactional commit).
    val Seq(postsM, setsM, actM) = graft.Stage.concurrently(spark, "sync")(Seq(
      // posts: partition-scoped latest-wins upsert — only the (year,
      // month) partitions this batch touches are read and rewritten, so
      // a micro-batch costs O(batch months), not O(table) (Merge scaladoc)
      () => Merge.mergePartitioned(newPosts, postsPath, Seq("post_id"), "timestamp",
        stateSchema = Some(newPosts.schema), located = located),
      () => Merge.readState(spark, setsPath, Some(newSets.schema))
        .fold(newSets)(Votes.mergeVoterSets(_, newSets))
        .transform(graft.Stage.mat),
      () => Merge.readState(spark, accPath, Some(activity.schema))
        .fold(activity)(_.unionByName(activity)
          .groupBy(col("name")).agg(max(col("last_active")).as("last_active")))
        .transform(graft.Stage.mat)))
    // A failed write must not cancel its siblings: an overwrite cancelled
    // midway loses that table's prior state, while a finished one is
    // absorbed by the idempotent merges when the batch replays. So each
    // write's failure is held until all three are done.
    graft.Stage.concurrently(spark, "sync-write")(Seq(
      () => Merge.writePartitioned(postsM, postsPath),
      () => setsM.write.mode("overwrite").parquet(setsPath),
      () => actM.write.mode("overwrite").parquet(accPath)
    ).map(write => () => scala.util.Try(write()))).foreach(_.get)
  }

  /** Start the streaming sync over a directory of op-envelope JSON files
    * (the file source stands in for the RPC poll, SURVEY SRC1).
    */
  def start(spark: SparkSession, opsDir: String, checkpointDir: String,
            stateDir: String, trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Int = 30): StreamingQuery = {
    val ops = spark.readStream
      .schema(Schemas.opEnvelope)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(opsDir)
    ops.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, stateDir)
      }
      .start()
  }

  // ---- S4 capability rows: watermarked event-time windows -------------

  /** Tumbling/sliding window counts with a watermark (S4; built-in
    * `window()` — late data beyond the watermark is dropped).
    */
  def windowedCounts(events: DataFrame, windowDur: String, slideDur: String,
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Session windows per user with an inactivity gap (S4; built-in
    * `session_window()` — the streaming twin of q51_sessionize).
    */
  def sessionCounts(events: DataFrame, gap: String,
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
}
