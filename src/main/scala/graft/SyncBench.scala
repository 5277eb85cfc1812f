package graft

/** End-to-end sync-pipeline throughput: synthesize op envelopes
  * (comments/votes/account_updates in reference proportions), run the
  * full router→handlers→merge batch, and report ops/second — the
  * apples-to-apples number against the reference's operational envelope
  * (~10 blocks/s catch-up ≈ a few hundred ops/s single-process,
  * BASELINE.md).
  *
  * Usage: runMain graft.SyncBench [nOps]
  */
object SyncBench {
  def main(args: Array[String]): Unit = {
    val nOps = args.headOption.map(_.toInt).getOrElse(200000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val opsDir = java.nio.file.Files.createTempDirectory("graft-syncbench").toString
    val stateDir = opsDir + "/state"

    // deterministic synthetic op log: 60% comments, 35% votes, 5% account
    // updates, over a keyspace that produces both inserts and re-post
    // updates plus duplicate votes (the hard paths)
    val lines = (0 until nOps).iterator.map { i =>
      val ts = f"2024-01-${1 + (i % 28)}%02dT${i % 24}%02d:${i % 60}%02d:00"
      val author = s"user${i % 5000}"
      if (i % 20 < 12) {
        val permlink = s"post${i % 20000}"
        val payload = s"""{\\"author\\":\\"$author\\",\\"permlink\\":\\"$permlink\\",\\"parent_author\\":\\"\\",\\"parent_permlink\\":\\"hive-118554\\",\\"title\\":\\"t$i\\",\\"body\\":\\"hello #tag$i world **md**\\",\\"json_metadata\\":\\"{\\\\\\"tags\\\\\\":[\\\\\\"a\\\\\\"]}\\"}"""
        s"""{"block_num":${i / 50},"timestamp":"$ts","op_type":"comment","payload":"$payload"}"""
      } else if (i % 20 < 19) {
        val payload = s"""{\\"voter\\":\\"user${(i * 7) % 5000}\\",\\"author\\":\\"user${(i * 3) % 5000}\\",\\"permlink\\":\\"post${(i * 3) % 20000}\\",\\"weight\\":${if (i % 3 == 0) -100 else 100}}"""
        s"""{"block_num":${i / 50},"timestamp":"$ts","op_type":"vote","payload":"$payload"}"""
      } else {
        val payload = s"""{\\"account\\":\\"$author\\",\\"json_metadata\\":\\"{\\\\\\"profile\\\\\\":{\\\\\\"name\\\\\\":\\\\\\"n$i\\\\\\"}}\\"}"""
        s"""{"block_num":${i / 50},"timestamp":"$ts","op_type":"account_update","payload":"$payload"}"""
      }
    }
    val f = java.nio.file.Paths.get(opsDir, "ops.json")
    val w = java.nio.file.Files.newBufferedWriter(f)
    lines.foreach { l => w.write(l); w.newLine() }
    w.close()

    val ops = pipeline.Router.readOps(spark, f.toString)
    // warm-up (plan + codegen compile) on a slice, separate state dir
    stream.Sync.applyBatch(ops.limit(1000), opsDir + "/warmstate")

    val t0 = System.nanoTime()
    stream.Sync.applyBatch(ops, stateDir)
    val sec = (System.nanoTime() - t0) / 1e9

    val posts = spark.read.parquet(s"$stateDir/posts").count()
    val accounts = spark.read.parquet(s"$stateDir/accounts").count()
    println(s"""{"metric":"sync_ops_per_sec","value":${(nOps / sec).round},"unit":"ops/sec","n_ops":$nOps,"elapsed_sec":$sec,"posts":$posts,"accounts":$accounts}""")
    spark.stop()
  }
}
