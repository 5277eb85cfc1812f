package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lazy loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Every query in the engine receives a scale-factor directory and reads
  * through here, so schema knowledge and read options live in one place.
  * Reads are plain columnar parquet scans: Catalyst pushes filters and
  * prunes columns into the scan (verify via `.explain` → `PushedFilters`
  * / `ReadSchema`), which is the property that matters at 100 TB.
  *
  * The resolved DataFrames are memoized per (session, dir, table,
  * file-stat token) through [[graft.Memo]]: `spark.read.parquet`
  * re-reads parquet footers for schema inference on every call, and
  * with ~70 declared queries each opening 1–3 tables that footer I/O
  * plus relation resolution became a measurable slice of the per-query
  * planning floor (VERDICT r5 #7).
  * DataFrames are immutable logical plans, so sharing one instance
  * across queries only shares the analysis work, never execution state.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def rd(name: String): DataFrame =
    graft.Memo.value("table", dir, Seq(name), name, s"session${System.identityHashCode(spark)}")(
      Tables.load(spark, dir, name))

  def region: DataFrame     = rd("region")
  def nation: DataFrame     = rd("nation")
  def customer: DataFrame   = rd("customer")
  def supplier: DataFrame   = rd("supplier")
  def part: DataFrame       = rd("part")
  def orders: DataFrame     = rd("orders")
  def lineitem: DataFrame   = rd("lineitem")
  def events: DataFrame     = rd("events")
  def documents: DataFrame  = rd("documents")
  def embeddings: DataFrame = rd("embeddings")
}

object Tables {
  /** Cheap snapshot of one table's files (names, mtimes, sizes): a
    * rewritten table gets a new token, so every [[graft.Memo]] key that
    * names the table misses. `listFiles` can return null on a permission
    * error or a concurrent rewrite. */
  private[graft] def statToken(dir: String, name: String): String = {
    val f = new java.io.File(dir, s"$name.parquet")
    val files = if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty) else Array(f)
    files.map(x => s"${x.getName}:${x.lastModified}:${x.length}")
      .sorted.mkString(",").hashCode.toString
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" =>
        // events.ts has shipped as TWO parquet physical types across
        // driver fixture generations: TIMESTAMP(NANOS) (rounds ≤6; Spark
        // 4 refuses to read it as a timestamp without the legacy
        // nanos-as-long conf) and TIMESTAMP(MICROS, not UTC-adjusted)
        // (round 7+; Spark infers TIMESTAMP_NTZ). Read under the legacy
        // conf — it only affects NANOS fields — then normalize whichever
        // schema came back to the same microsecond TimestampType, so
        // every downstream query and the DuckDB oracle see one schema
        // regardless of fixture vintage. (NTZ→Timestamp cast under the
        // UTC session timezone preserves the wall-clock value exactly.)
        // scope the legacy conf to this schema inference: set, read,
        // restore — leaving it on session-wide would silently turn
        // every later TIMESTAMP(NANOS) read in the session into raw
        // longs (review finding r6b). The loaded DataFrame keeps its
        // inferred schema; execution converts through the column we
        // build here, not through the conf.
        // Serialized: loads of different keys run concurrently, and two
        // interleaved set/restore pairs would leave the conf off for one read.
        val key = "spark.sql.legacy.parquet.nanosAsLong"
        val raw = synchronized {
          val prev = spark.conf.getOption(key)
          spark.conf.set(key, "true")
          try spark.read.parquet(s"$dir/events.parquet")
          finally {
            prev match {
              case Some(v) => spark.conf.set(key, v)
              case None    => spark.conf.unset(key)
            }
          }
        }
        import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
        raw.schema("ts").dataType match {
          case LongType => // nanos fixture read as raw longs
            raw.withColumn("ts",
              org.apache.spark.sql.functions.timestamp_micros(
                org.apache.spark.sql.functions.expr("ts DIV 1000")))
          case TimestampNTZType => // micros fixture, not UTC-adjusted
            raw.withColumn("ts",
              org.apache.spark.sql.functions.col("ts").cast(TimestampType))
          case _ => raw
        }
      case _ =>
        spark.read.parquet(s"$dir/$name.parquet")
    }
}
