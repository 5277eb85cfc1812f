package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation by key salting — the manual fallback when AQE's
  * runtime skew handling isn't available (e.g. a skewed aggregation
  * where one key holds 30% of a 100 TB table; AQE splits skewed *join*
  * partitions but a hot aggregation key still lands on one reducer).
  *
  * Two-stage aggregation: stage 1 groups by (key, salt) — the hot key
  * spreads over 16 reducers — stage 2 combines the partials
  * by key. Works for any algebraic aggregate (here: count/sum); the
  * combine step runs on |keys| × 16 rows, which is tiny.
  */
object Salting {

  /** Deterministic salt in [0, saltBuckets) derived from a uniqueness
    * column (NOT rand() — retries/replays must produce the same salt
    * for exactly-once semantics under Spark task retry).
    */
  def salt(uniqueCol: Column): Column =
    pmod(xxhash64(uniqueCol), lit(16))

  /** Salted count+sum aggregation equivalent to
    * `df.groupBy(key).agg(count(1), sum(valueCol))`.
    */
  def saltedCountSum(df: DataFrame): DataFrame =
    df.withColumn("__salt", salt(col("l_orderkey")))
      .groupBy(col("l_returnflag"), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__s"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("total"))
}
