package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-window document chunking — the splitter a training pipeline runs
  * before tokenization/packing: fixed-size windows with a configurable
  * overlap so context isn't lost at chunk boundaries.
  *
  * Chunk starts are `0, stride, 2·stride, …` while `start < n_tokens`
  * (stride = size − overlap); the last window may be short. The whole
  * operator is one generator expression (`sequence` + `explode`) over the
  * token array — narrow, no shuffle, no UDF, fully codegen'd — so it
  * scales linearly with the corpus and parallelizes per input split.
  */
object Chunking {

  def chunkTokens(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      s"need chunkSize > overlap >= 0, got $chunkSize/$overlap")
    val stride = chunkSize - overlap
    val toks: Column = filter(TextStats.tokens(col("text")), t => t =!= lit(""))
    docs
      .select(col("doc_id"), toks.as("toks"))
      // empty/whitespace-only docs have zero tokens → sequence(0, -1, +stride)
      // throws "Illegal sequence boundaries" in Spark; such docs produce no
      // chunks (the oracle's range(0, 0, stride) is empty), so explode an
      // empty start list instead of crashing the job on one degenerate row
      .withColumn("start", explode(when(size(col("toks")) === 0,
          array().cast("array<int>"))
        .otherwise(sequence(lit(0), size(col("toks")) - 1, lit(stride)))))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_idx"),
        col("start").cast("int").as("start_tok"),
        size(slice(col("toks"), col("start") + 1, lit(chunkSize))).cast("int").as("n_tok"),
        array_join(slice(col("toks"), col("start") + 1, lit(chunkSize)), " ").as("chunk_text"))
  }
}
