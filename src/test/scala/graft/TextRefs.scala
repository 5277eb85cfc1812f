package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.Dedup

/** Reference forms of the text kernels whose declared queries ship a
  * faster equivalent in [[graft.text.Dedup]]; the specs pin the shipped
  * forms against them:
  *
  *  - [[ngramJaccardPairsExact]] for `Dedup.minhashNearDups` (banded
  *    MinHash, q37) and `Dedup.jaccardJoinPrefix` (prefix filtering, q91).
  */
object TextRefs {

  /** Exact all-pairs n-gram Jaccard (no LSH). Quadratic in the input
    * by construction: the shipped forms are `Dedup.minhashNearDups`
    * (banded MinHash, exact verify) and `Dedup.jaccardJoinPrefix`.
    */
  def ngramJaccardPairsExact(docs: DataFrame, threshold: Double, k: Int = 3,
                             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), Dedup.shingleHashes(col(textCol), k).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", Dedup.jaccardSortedHashes(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
