package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main and the test suite build their
  * session here, so they all run under the same configuration —
  * shuffle partitions sized to the core count (not the 200 default),
  * UTC, the UI off, a generated-class cache sized to the query suite,
  * session artifact isolation off, a local filesystem that starts no
  * processes, and the native SQL functions
  * injected via GraftExtensions. AQE runs on Spark's defaults (enabled,
  * with partition coalescing and skew joins). Partition overwrite stays
  * at Spark's static default: the upsert sink asks for dynamic
  * overwrite on its own writer ([[pipeline.Merge.writePartitioned]]),
  * so a plain partitioned overwrite elsewhere still replaces the whole
  * table.
  *
  * The generated-class cache is keyed by (context class loader,
  * source), so a compiled class serves only tasks that run under the
  * same loader; its 4096-entry sizing pays off only while every session
  * shares one. With artifact isolation on (Spark's default), each
  * session with its own UUID — including the clone every streaming
  * query runs its micro-batches in — gets its own executor class
  * loader, and each `Sync.start` recompiled every class of the sync in
  * its tasks. The engine adds no session artifacts, so isolation is
  * off. A caller that adds session jars, files or classes
  * (`addArtifact`, `addJar`, `addFile`) must revisit this setting.
  *
  * Local `file:` paths go through [[sources.NioLocalFileSystem]] and
  * [[sources.NioLocalFs]]. Without the native-hadoop library (Spark
  * logs "Unable to load native-hadoop library"), Hadoop's
  * `RawLocalFileSystem` set each mode by
  * forking `chmod` and probed each rename's paths for symlinks by
  * forking `readlink`: a sync benchmark run started 1093 processes,
  * about 150 per timed replay, and the streaming checkpoint spent
  * 23-33 ms per batch in each of `walCommit`, `commitOffsets` and
  * `latestOffset`. The two classes give the same modes and statuses
  * through `java.nio` and keep the `.crc` files, so on-disk state is
  * unchanged; they are fixed settings, not options. `FileSystem.CACHE`
  * is keyed by scheme and user, not by configuration, so a `file:`
  * filesystem that code fetches with a plain Hadoop `Configuration`
  * before the session starts keeps Hadoop's class for the JVM's life.
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
      // codegen), and matches any long-lived production session. The
      // cache key includes the task's context class loader, so the
      // sizing holds only under the shared loader set below.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // measured with isolation on: each warm sync replay recompiled 81
      // generated classes in its tasks, resolving their class misses
      // over RPC from the driver, and Janino or ExecutorClassLoader
      // frames were in 35% of the replay's executor samples (PERF.md).
      // Off, a replay compiles none.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // file: paths without Hadoop's chmod and readlink forks (see the
      // scaladoc and PERF.md); other schemes keep their own classes
      .config("spark.hadoop.fs.file.impl", classOf[sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[sources.NioLocalFs].getName)
      .withExtensions(new catalyst.GraftExtensions)
}
