package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Idempotent keyed-upsert merge (SURVEY.md §2.2 SNK1, §7.4 #1).
  *
  * The reference gets exactly-once-effective semantics from at-least-once
  * delivery + idempotent per-doc upserts into OpenSearch
  * (listener.js:176-184). Plain Parquet has no per-row upsert, so the
  * engine expresses the same thing relationally: union existing state
  * with the incoming batch, keep the latest record per key (window
  * dedup), and overwrite. Applying the same batch twice is a no-op —
  * idempotence is property-tested (MergeSpec).
  *
  * At scale the overwrite is partition-scoped (`replaceWhere`-style:
  * only the (year, month) partitions present in the batch are rewritten)
  * so a micro-batch touching one month never rewrites history.
  */
object Merge {

  /** Latest-record-wins dedup (A3/W1; reference comments.js:118-142).
    * Ties beyond `ordering` are broken by a stable hash of the whole row
    * so the result is deterministic under input-order shuffling.
    */
  def latestWins(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    // the whole-row tiebreak hash must skip MAP-typed columns (Spark
    // forbids hashing maps — element order is unspecified)
    def hashable(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case org.apache.spark.sql.types.MapType(_, _, _) => false
      case org.apache.spark.sql.types.ArrayType(e, _) => hashable(e)
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val hashCols = df.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    val orderCols = ordering.map(_.desc) ++
      (if (hashCols.nonEmpty) Seq(xxhash64(struct(hashCols.toSeq: _*)).desc) else Nil)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Merge an incoming batch into existing state, latest record per key
    * winning (SNK1). Columns are aligned by name; either side may carry
    * columns the other lacks (schema evolution — nulls fill the gap).
    */
  def upsert(existing: DataFrame, incoming: DataFrame,
             keys: Seq[String], orderCol: String): DataFrame =
    latestWins(
      existing.unionByName(incoming, allowMissingColumns = true),
      keys, Seq(col(orderCol)))

  /** Partitioned overwrite write (SNK5): dynamic partition overwrite
    * only rewrites the partitions present in `df`, which is what makes
    * the incremental merge cheap at 100 TB — a month of new posts
    * touches one partition, not the table.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String] = Seq("year", "month")): Unit = {
    // the overwrite mode rides the WRITER, not the session conf — a
    // session-wide `conf.set` would silently flip every later
    // partitioned Overwrite in the same session from replace-table to
    // partial-overwrite semantics (review finding r6b)
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Filesystem-agnostic existence probe through the session's Hadoop
    * conf — `java.io.File` is ALWAYS false for hdfs://, s3://, etc.,
    * which would silently rebuild state from scratch every batch on a
    * non-local deployment (review finding r6b).
    */
  private[graft] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** First-seen partition routing: every key's partition columns are
    * pinned to the values of its FIRST-seen row — the existing state row
    * when the key is already in the table, else the earliest (`orderCol`)
    * row of the batch. This mirrors the reference, which routes a post's
    * monthly index by its *creation* time on every edit
    * (comments.js:141 `comment.timestamp = comment.created`, :170), and
    * it is what makes partition-scoped upserts sound: a row never moves
    * partitions, so an edit can never strand a stale copy in an old
    * month (the exact bug of routing by edit time).
    *
    * Expects a boolean `__from_state` column marking existing-state rows.
    */
  private def routeFirstSeen(unioned: DataFrame, keys: Seq[String],
                             orderCol: String, partitionCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__from_state").desc, col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    partitionCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(c, first(col(c)).over(w))
    }
  }

  /** The table at `path`, or None when it does not exist yet. With a
    * `schema` the read infers nothing (no footer-reading job); the
    * caller then owns that schema matching the files, since a column
    * missing from it is dropped from the read.
    */
  def readState(spark: SparkSession, path: String,
                schema: Option[StructType] = None): Option[DataFrame] =
    if (!pathExists(spark, path)) None
    else Some(schema.fold(spark.read)(spark.read.schema).parquet(path))

  /** Key-locate scan: the (keys ++ partitionCols) of the `state` rows
    * whose keys appear in `probe` — a column-pruned read, a tiny
    * fraction of the table width, semi-joined against the probe's keys
    * (broadcast: micro-batches are small by construction; a semi-join
    * needs no distinct build side, so no shuffle precedes it).
    * The result is batch-sized, so a caller with several key sets
    * (posts and votes of one batch) can run ONE scan over their union,
    * materialize it and hand it to `mergePartitioned` as `located`.
    */
  def locate(state: DataFrame, probe: DataFrame, keys: Seq[String],
             partitionCols: Seq[String] = Seq("year", "month")): DataFrame =
    state.select((keys ++ partitionCols).map(col): _*)
      .join(broadcast(probe.select(keys.map(col): _*)), keys, "left_semi")

  /** Partition-scoped incremental upsert: merge `incoming` into the
    * partitioned state at `path`, touching ONLY (a) the partitions the
    * batch's rows land in and (b) the partitions where the batch's KEYS
    * already live. (b) comes from a key-locate scan (`locate`). Partition
    * routing is first-seen (`routeFirstSeen`), so rows never migrate
    * partitions and the rewrite stays O(touched months), not O(history).
    * At 100 TB a key→partition index table would replace the key-locate
    * scan; with plain Parquet the narrow scan is the honest answer.
    */
  def upsertPartitioned(incoming: DataFrame, path: String,
                        keys: Seq[String], orderCol: String,
                        partitionCols: Seq[String] = Seq("year", "month")): Unit =
    writePartitioned(mergePartitioned(incoming, path, keys, orderCol, partitionCols),
      path, partitionCols)

  /** `upsertPartitioned`'s merged rows — every row of the partitions it
    * rewrites — materialized, so the caller can write them (with
    * `writePartitioned`) after other work, such as sibling tables'
    * merges, has succeeded.
    *
    * `located` is the caller's key-locate scan, when one shared scan
    * whose probe covers at least `incoming`'s keys already ran (e.g.
    * `Sync.applyBatch`'s scan for posts and votes at once); without it
    * the merge runs a scan of its own. `stateSchema` is passed to
    * `readState`: give it only when it is the table's on-disk schema
    * (the frame merged into it), since without it a state column
    * `incoming` lacks still survives.
    */
  def mergePartitioned(incoming: DataFrame, path: String,
                       keys: Seq[String], orderCol: String,
                       partitionCols: Seq[String] = Seq("year", "month"),
                       stateSchema: Option[StructType] = None,
                       located: Option[DataFrame] = None): DataFrame = {
    val spark = incoming.sparkSession
    val incomingTagged = incoming.withColumn("__from_state", lit(false))
    val merged = readState(spark, path, stateSchema) match {
      case None =>
        latestWins(routeFirstSeen(incomingTagged, keys, orderCol, partitionCols)
          .drop("__from_state"), keys, Seq(col(orderCol)))
      case Some(state) =>
        // where do the incoming keys already live? (a shared scan holds
        // the same columns as the table's, so it is located alike)
        val oldParts = locate(located.getOrElse(state), incoming, keys, partitionCols)
          .select(partitionCols.map(col): _*)
        val newParts = incoming.select(partitionCols.map(col): _*)
        val touched = oldParts.unionByName(newParts).distinct().collect()
        // null-safe equality: a null partition value (null orderCol → null
        // year/month) lands in the default partition, and === against a null
        // literal is never-true — plain === would exclude the existing
        // null-partition state rows from the merge while the dynamic
        // overwrite still rewrites that partition, silently deleting them
        val pruning = touched.map { r =>
          partitionCols.zipWithIndex
            .map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)
        }.reduceOption(_ || _).getOrElse(lit(false))
        val existingTouched = state.filter(pruning).withColumn("__from_state", lit(true))
        val unioned = existingTouched.unionByName(incomingTagged, allowMissingColumns = true)
        latestWins(routeFirstSeen(unioned, keys, orderCol, partitionCols)
          .drop("__from_state"), keys, Seq(col(orderCol)))
    }
    // materialize before overwriting the partitions just read
    merged.transform(graft.Stage.mat)
  }
}
