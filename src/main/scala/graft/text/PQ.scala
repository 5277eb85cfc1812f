package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization — the memory arm of the ANN stack (int8 gives
  * 4×; PQ gives dim·4 bytes → m code bytes, 16× at the declared
  * m=16/dim=64 operating point), and the standard
  * 100 TB vector-index layout when composed with the IVF path
  * (`LLMOps.ivfCentroids` + [[PQ.adcScores]] = IVF-PQ: probe a coarse
  * cell, then rank by table-lookup distances over 8-byte codes instead
  * of 256-byte vectors).
  *
  * Reference scope: the reference engine (hive-discover/chain-sync)
  * ships no vector ops at all — this extends the engine-extension
  * similarity family (SURVEY §2 "beyond" rows) alongside IVF/LSH/int8.
  *
  * Everything here follows the portable-clustering discipline proven by
  * kmeansAssign/q64:
  *  - seeds are a deterministic hash-spread sample (portable md5 hash,
  *    k smallest), sliced per subspace — one corpus scan;
  *  - assignment is argmin over ROUND-6-snapped squared-L2 distances
  *    with a smaller-code tie-break (the snap + tie-break make the
  *    argmin engine-stable; the distance itself is an unrolled
  *    left-associated sum, the same IEEE op order in both engines);
  *  - the Lloyd update is the long-micros mean (Similarity.microsMean
  *    machinery — plain long-sum aggregate, post-agg division), so
  *    codebook entries are bit-identical doubles in both engines;
  *  - an empty cell keeps its seed centroid (deterministic, mirrored
  *    by the oracle's COALESCE).
  *
  * Scale shape: training touches the driver once per corpus with
  * m·k·(dim/m) = k·dim doubles (index-sized, the ivfTrain contract);
  * encoding is a pure projection over literal codebooks — zero joins,
  * zero shuffles, embarrassingly parallel; the one shuffle in training
  * is the (j, code)-keyed micros-mean aggregate whose state is
  * m·k·(dim/m) longs.
  */
object PQ {

  /** Unrolled squared-L2 between two d-dim array columns: a
    * left-associated `((t1+t2)+t3)+…` sum of squared differences —
    * primitive codegen ops, and the exact op order
    * [[l2sqSql]] emits for DuckDB.
    */
  private[graft] def l2sq(a: Column, b: Column, d: Int): Column =
    (1 to d).map { i =>
      val diff = element_at(a, i) - element_at(b, i)
      diff * diff
    }.reduce(_ + _)

  /** The matching DuckDB expression (same left-assoc order). */
  private[graft] def l2sqSql: String =
    (1 to 4).map(i => s"(sv[$i]-cv[$i])*(sv[$i]-cv[$i])").mkString(" + ")

  /** OFFLINE codebook training: hash-spread seeds + one Lloyd update on
    * every subspace at once. Returns cb(j)(c) = centroid c of subspace
    * j, each of length dim/m. Driver state: k·dim doubles.
    */
  def pqTrain(embeddings: DataFrame, m: Int, k: Int, dim: Int): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val d = dim / m
    require(m * d == dim, s"dim $dim must divide into m=$m subspaces")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))

    // k seed VECTORS by portable-hash order (one scan); seed codebook
    // j = slice j of each — the same spread sample for every subspace.
    val seedVecs: IndexedSeq[IndexedSeq[Double]] = e
      .withColumn("h", TextStats.portableHash64(
        concat(lit("pq:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("v")).as[Seq[Double]].collect()
      .map(_.toIndexedSeq).toIndexedSeq
    val cb0: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      (0 until m).map(j => seedVecs.map(_.slice(j * d, (j + 1) * d)))

    // One Lloyd update: encode against cb0 (one native-expression
    // projection), explode to (j, code, sv) and take the micros mean
    // per cell — a single map-side-combined shuffle with m·k·d longs
    // of state.
    val cells = e
      .select(col("v"),
        graft.catalyst.GraftFunctions.pqEncode(col("v"), cb0).getField("codes").as("codes"))
      .select(col("v"), posexplode(col("codes")).as(Seq("j", "code")))
      .select(col("j"), col("code"), slice(col("v"), col("j") * d + 1, lit(d)).as("sv"))
      .groupBy(col("j"), col("code"))
      .agg(Similarity.microsSumArray(d, col("sv")).as("ms"),
        count(lit(1)).as("n"))
      .select(col("j"), col("code"),
        Similarity.microsMeanArray(col("ms"), col("n")).as("cv"))
      .as[(Int, Int, Seq[Double])].collect()
      .map { case (j, c, cv) => (j, c) -> cv.toIndexedSeq }.toMap

    // cb0(j) may hold fewer than k centroids when the corpus itself is
    // smaller than k — iterate the actual seed count, not the request
    (0 until m).map(j => cb0(j).indices.map(c => cells.getOrElse((j, c), cb0(j)(c))))
  }

  /** Encode + reconstruction audit: per vector its m-byte code word and
    * the round-6 cosine between the vector and its codebook
    * reconstruction — the fidelity signal a pipeline gates on before
    * trusting PQ distances (the q67 int8-audit pattern). One native
    * fused-loop expression ([[graft.catalyst.PQEncode]]) per row; pure
    * projection, no shuffle, stays in whole-stage codegen.
    */
  def pqEncode(embeddings: DataFrame, cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): DataFrame =
    embeddings
      .select(col("vec_id"),
        graft.catalyst.GraftFunctions.pqEncode(
          col("embedding").cast("array<double>"), cb).as("pq"))
      .select(col("vec_id"), col("pq.codes").as("codes"),
        round(col("pq.recon_cos"), 6).as("recon_cos_r"))

  /** [[pqEncode]] with the code word rendered `"c0,c1,…"` — the declared
    * query's shape (the harness compare layer can't sort array cells;
    * the q48 stringify pattern).
    */
  def pqEncodeStr(embeddings: DataFrame, cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): DataFrame = {
    val enc = pqEncode(embeddings, cb)
    enc.select(col("vec_id"),
      array_join(transform(col("codes"), c => c.cast("string")), ",").as("codes"),
      col("recon_cos_r"))
  }

  /** Asymmetric-distance (ADC) scores for a query batch: the corpus
    * side carries only (vec_id, j, code); the per-(query, j, code)
    * distance table — q·m·k rows — is the broadcast side, so ranking
    * never touches the original vectors (the PQ memory win). Per-cell
    * distances are round-6 DECIMAL(25,6) addends, so the m-term sum is
    * order-independent and engine-exact.
    */
  def adcScores(encoded: DataFrame, queries: DataFrame,
                cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): DataFrame = {
    val m = cb.length
    val d = cb.head.head.length
    val D = org.apache.spark.sql.types.DecimalType(25, 6)
    val spark = encoded.sparkSession
    // distance table: (j, c, cv) × queries — q·m·k rows, broadcast.
    val cbDf = spark.createDataFrame(
      for { j <- 0 until m; c <- 0 until cb(j).length }
        yield (j, c, cb(j)(c))
    ).toDF("j", "c", "cv")
    val dt = queries.crossJoin(cbDf)
      .select(col("q_id"), col("j"), col("c"),
        round(l2sq(slice(col("qvec").cast("array<double>"), col("j") * d + 1, lit(d)),
          col("cv"), d), 6).cast(D).as("dsub_r"))
    encoded
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "c")))
      .join(broadcast(dt), Seq("j", "c"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dsub_r")).cast("double").as("adc_dist"))
  }

  /** Hard-negative mining at index scale — the ADC form of the exact
    * q120 shape: per query, the top-k most-similar DIFFERENT-label
    * vectors, found by (1) an [[adcScores]] shortlist over m-byte PQ
    * codes (the corpus-side scan never touches a float vector), then
    * (2) an exact cosine rerank of only the `shortlistK` survivors on
    * their fetched true vectors. This is the production IVF-PQ mining
    * deployment: the exact all-label-pairs pass the q120 oracle replays
    * is exactly the work the code path avoids, so recall against it is
    * certified in-plan by the caller (the q116 contract) rather than by
    * construction.
    *
    * corpus: (vec_id, embedding, label); queries: (q_id, qvec, qlabel).
    * Output (q_id, rnk, neg_id, cos_sim) — the q120 signature.
    */
  def hardNegativesAdc(corpus: DataFrame, queries: DataFrame,
                       cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
                       k: Int = 5, shortlistK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adc = adcScores(pqEncode(corpus, cb), queries.select(col("q_id"), col("qvec")), cb)
    // label anti-filter BEFORE the shortlist rank: same-label neighbors
    // (the nearest vectors by construction) must not crowd true
    // negatives out of the shortlist.
    val ws = Window.partitionBy(col("q_id")).orderBy(col("adc_dist").asc, col("vec_id"))
    val shortlist = adc
      .join(corpus.select(col("vec_id"), col("label")), Seq("vec_id"))
      .join(broadcast(queries.select(col("q_id"), col("qlabel"))), Seq("q_id"))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= shortlistK)
    val wr = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    shortlist.select(col("q_id"), col("vec_id"))
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries.select(col("q_id"), col("qvec"))), Seq("q_id"))
      .withColumn("cos_sim", Similarity.cosine(col("embedding"), col("qvec")))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id").as("neg_id"), col("cos_sim"))
  }
}
