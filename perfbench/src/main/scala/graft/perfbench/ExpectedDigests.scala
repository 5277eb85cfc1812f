package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Recorded output digests, kept as tab-separated files under
  * `perfbench/expected/`:
  *
  *  - `sync_digests.tsv`: workload, seed, posts-table digest (written by
  *    `--record`, from `Sync.applyBatch`);
  *  - `query_digests.tsv`: fixture, query, digest of the query's DuckDB
  *    oracle SQL (written by `oracle_digests.py`).
  */
object ExpectedDigests {
  private def table(dataDir: Path, file: String): Map[(String, String), String] = {
    val p = dataDir.resolve("expected").resolve(file)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(a, b, d) => (a, b) -> d }.toMap
  }

  def sync(dataDir: Path, workload: String, seed: Long): Option[String] =
    table(dataDir, "sync_digests.tsv").get((workload, seed.toString))

  def queries(dataDir: Path, fixture: String): Map[String, String] =
    table(dataDir, "query_digests.tsv").collect { case ((f, q), d) if f == fixture => q -> d }
}
