package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main and the test suite build their
  * session here, so they all run under the same configuration —
  * shuffle partitions sized to the core count (not the 200 default),
  * UTC, the UI off, a generated-class cache sized to the query suite,
  * and the native SQL functions injected via GraftExtensions. AQE runs
  * on Spark's defaults (enabled, with partition coalescing and skew
  * joins). Partition overwrite stays at Spark's static default: the
  * upsert sink asks for dynamic overwrite on its own writer
  * ([[pipeline.Merge.writePartitioned]]), so a plain partitioned
  * overwrite elsewhere still replaces the whole table.
  */
object GraftSession {

  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("chainsyncspark")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; a 100+-query
      // suite evicts every compiled subtree between the two timing
      // passes, so each pass pays full Janino recompilation (~2 s on the
      // widest aggregates — measured on q01 once the suite crossed 100
      // queries). Sizing the cache to the suite makes pass 2 measure
      // execution, which is the bench's stated policy (pass 2 amortizes
      // codegen), and matches any long-lived production session.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .withExtensions(new catalyst.GraftExtensions)
}
