package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Tables

/** The one memo of per-corpus intermediates: fixture table loads, edge
  * tables, k-means fits, IVF centroids and the PQ codebook. Every
  * query re-derives the same intermediates of its corpus dir; deriving
  * each once per session is what keeps an interactive battery cheap.
  *
  * '''Key.''' An entry is keyed by its kind, the corpus dir, the
  * [[Tables.statToken]] of every input table the derivation reads, and
  * the caller's parameters. A rewritten input table therefore changes
  * the key and re-derives instead of serving a stale value; the old
  * entry ages out of the LRU. A DataFrame held as a [[value]] references
  * its session, so its caller puts the session identity into the
  * parameters (see `Tables`).
  *
  * '''Single flight.''' Concurrent first callers of one key block on a
  * single derivation and all get its result. A derivation that throws
  * leaves no entry, so the next call derives again; callers that were
  * waiting on it rethrow its failure.
  *
  * '''Bound.''' All kinds share one access-ordered LRU of [[Capacity]]
  * entries. It is an LRU and not a weak map because a cached DataFrame
  * strongly references its session, so entries of stopped sessions or
  * rewritten dirs can only leave by being displaced.
  *
  * '''Accounting.''' Each derivation bumps [[derivations]] and records
  * its wall seconds in [[buildSeconds]] under the entry's [[Label]]
  * (kind, parameters and dir, without stat tokens); `Bench` prints the
  * latter as `notes.memo_build_s`.
  *
  * '''Spill.''' [[spilled]] entries are parquet files under
  * `<spark.sql.warehouse.dir>/_graft_edge_memo/<jvm token>/`: the
  * warehouse dir is the shared filesystem executors on other hosts can
  * read, and the per-JVM token keeps concurrent JVMs apart. Each
  * derivation writes its own subdirectory, then repacks it by bytes
  * ([[repack]]). A failed write or repack deletes what it left behind.
  * Every distinct spill root gets one JVM-exit hook that deletes it
  * through the Hadoop FS API, so HDFS/S3 roots clean up as local ones
  * do. An evicted spill stays on disk until then, because a DataFrame
  * already read from it may still run.
  */
object Memo {
  val Capacity = 256

  /** What accounting reports an entry as. */
  final case class Label(kind: String, dir: String, params: Seq[Any]) {
    override def toString: String = s"$kind(${params.mkString(",")})@$dir"
  }

  private final case class Key(label: Label, tokens: Seq[String])

  private val entries = new java.util.LinkedHashMap[Key, CompletableFuture[Any]](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, CompletableFuture[Any]]): Boolean =
      this.size() > Capacity
  }
  private val derivationCounts = new ConcurrentHashMap[Label, Long]
  private val buildSecs = new ConcurrentHashMap[Label, Double]

  /** A driver-held result (centroids, codebooks, `Tables` DataFrames),
    * derived once per key. */
  def value[A](kind: String, dir: String, inputs: Seq[String], params: Any*)(derive: => A): A = {
    val label = Label(kind, dir, params)
    val key = Key(label, inputs.map(n => s"$n:${Tables.statToken(dir, n)}"))
    val mine = new CompletableFuture[Any]
    val flight = Option(entries.synchronized(entries.putIfAbsent(key, mine))).getOrElse(mine)
    if (flight eq mine) {
      derivationCounts.merge(label, 1L, _ + _)
      val t0 = System.nanoTime()
      try {
        mine.complete(derive)
        buildSecs.put(label, (System.nanoTime() - t0) / 1e9)
      } catch {
        case t: Throwable =>
          entries.synchronized(entries.remove(key, mine))
          mine.completeExceptionally(t)
      }
    }
    try flight.get().asInstanceOf[A]
    catch { case e: ExecutionException => throw e.getCause }
  }

  /** A derived DataFrame spilled to parquet once per key and re-read on
    * every call. The spill is a deterministic function of the key up to
    * row order, so consumers that end in a total ORDER BY get the same
    * rows as inline derivation. */
  def spilled(s: SparkSession, dir: String, inputs: Seq[String], params: Any*)(
      derive: => DataFrame): DataFrame = {
    val path = value("edges", dir, inputs, params: _*) {
      val name = ("edges" +: params).mkString("_") + "_" + spillIds.incrementAndGet()
      val root = spillRoot(s.conf.get("spark.sql.warehouse.dir"), s.sparkContext.hadoopConfiguration)
      spill(s, new Path(root, name))(derive)
    }
    s.read.parquet(path)
  }

  /** Derivations per label in this JVM, summed over the labels of one
    * kind and dir. */
  private[graft] def derivations(kind: String, dir: String): Long =
    derivationCounts.asScala.collect {
      case (l, n) if l.kind == kind && l.dir == dir => n
    }.sum

  /** Wall seconds of the latest derivation of each label. */
  private[graft] def buildSeconds: Map[Label, Double] = buildSecs.asScala.toMap

  private[graft] def size: Int = entries.synchronized(entries.size)

  private val spillIds = new AtomicLong
  private val jvmToken = java.util.UUID.randomUUID().toString.take(12)
  private[graft] val spillRoots = ConcurrentHashMap.newKeySet[Path]

  /** This JVM's spill root under a warehouse dir, registering its
    * exit-time deletion on first use. */
  private[graft] def spillRoot(warehouseDir: String, conf: Configuration): Path = {
    val root = new Path(warehouseDir, s"_graft_edge_memo/$jvmToken")
    if (spillRoots.add(root)) {
      val fs = root.getFileSystem(conf)
      Runtime.getRuntime.addShutdownHook(new Thread(() => quietDelete(fs, root)))
    }
    root
  }

  /** Writes `derive` to `p` and repacks it; returns the path to read.
    * A failed write or repack deletes `p`. */
  private[graft] def spill(s: SparkSession, p: Path)(derive: => DataFrame): String = {
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try {
      derive.write.parquet(p.toString)
      repack(s, p).toString
    } catch { case t: Throwable => quietDelete(fs, p); throw t }
  }

  /** Right-sizes a spill by BYTES. The derive's final-stage partition
    * count tracks the writing session's core count, so a fixture-sized
    * memo lands as many near-empty files, and every re-scan then fans out
    * into near-empty tasks (measured 2-5× task-CPU inflation at
    * local[32]). One cheap one-time rewrite packs the spill to
    *   clamp(defaultParallelism,
    *         lo = ceil(bytes / maxPartitionBytes),   // full splits
    *         hi = ceil(bytes / openCostInBytes))     // file ≥ its open cost
    * — the write-side mirror of Spark's own scan rules. At corpus scale
    * `lo` dominates; at fixture scale the count is bytes-derived (2-3 at
    * sf0.1) and the same across core counts. Sweep evidence (q342/q358
    * idle, 32c): 20 files → cpu 12.6/10.2 s; 8 → 11.8/15.1; 2 → 2.2/6.1
    * (wall 3.0/3.5); 1 → 2.5/5.6 but wall 6.2/5.0 (serial re-parse per
    * re-scan). Returns the path holding the packed files; a failed
    * rewrite deletes its partial target and rethrows.
    */
  private[graft] def repack(s: SparkSession, p: Path): Path = {
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    def confBytes(k: String, dflt: String) =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s.conf.get(k, dflt))
    val splitBytes = confBytes("spark.sql.files.maxPartitionBytes", "134217728b")
    val openCost = confBytes("spark.sql.files.openCostInBytes", "4194304b")
    val nFiles = fs.listStatus(p).count(_.getPath.getName.startsWith("part-"))
    val lo = math.max(1L, (bytes + splitBytes - 1) / splitBytes)
    val hi = math.max(1L, (bytes + openCost - 1) / openCost)
    val want = math.min(hi, math.max(lo, s.sparkContext.defaultParallelism.toLong)).toInt
    if (nFiles <= want) p
    else {
      val p2 = new Path(p.getParent, p.getName + "_rs")
      try s.read.parquet(p.toString).coalesce(want).write.parquet(p2.toString)
      catch { case t: Throwable => quietDelete(fs, p2); throw t }
      quietDelete(fs, p)
      p2
    }
  }

  private def quietDelete(fs: FileSystem, p: Path): Unit =
    try fs.delete(p, true) catch { case _: Throwable => () }
}
