package graft.catalyst

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, XxHash64}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Column-API and SQL surfaces for the engine's native expressions.
  *
  * Scala callers use the typed helpers; SQL callers get the functions
  * either via `GraftExtensions` (SparkSessionExtensions, for sessions
  * built with `.withExtensions`) or `registerAll` (temp-function
  * registration on an existing session).
  */
object GraftFunctions {

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** Single-pass SimHash of a string column (see [[SimHash64]]). */
  def simhash64(c: Column): Column = col(SimHash64(expr(c)))

  /** Engine-portable SimHash (md5-derived 60-bit token keys — the
    * fingerprint is DuckDB-recomputable; see [[SimHash64]]).
    */
  def simhash64Portable(c: Column): Column = col(SimHash64(expr(c), portable = true))

  /** Fused cosine similarity of two array<float|double> columns. */
  def cosineSim(a: Column, b: Column): Column = col(CosineSim(expr(a), expr(b)))

  /** One-pass MinHash signature of an array<long> of shingle hashes. */
  def minhashSig(c: Column, numHashes: Int): Column =
    col(MinHashSig(expr(c), numHashes))

  /** One-pass distinct word-k-shingle hashes of a text column. */
  def shingleHashes(c: Column, k: Int): Column =
    col(ShingleHashes(expr(c), k))

  /** Position-ordered (non-deduped) k-shingle hashes — for winnowing,
    * which needs sequence order.
    */
  def shingleHashesOrdered(c: Column, k: Int): Column =
    col(ShingleHashes(expr(c), k, distinct = false))

  /** One-pass engine-portable winnowing fingerprints (md5-derived 60-bit
    * gram keys, DuckDB-recomputable).
    */
  def portableWinnow(c: Column): Column =
    col(PortableWinnow(expr(c), 3, 4))

  /** Full (unrestricted) Damerau-Levenshtein distance of two string
    * columns — see [[DamerauLevenshtein]].
    */
  def damerauLevenshtein(a: Column, b: Column): Column =
    col(DamerauLevenshtein(expr(a), expr(b)))

  /** Jaro-Winkler similarity as exact integer micros (round-half-up of
    * the exact rational; no doubles) — see [[JaroWinklerMicros]].
    */
  def jaroWinklerMicros(a: Column, b: Column): Column =
    col(JaroWinklerMicros(expr(a), expr(b)))

  /** Position-ordered engine-portable k-gram hashes (md5-derived 60-bit
    * keys; element i = gram at token i+1) — see [[PortableShingles]].
    */
  def portableShingles(c: Column, k: Int): Column =
    col(PortableShingles(expr(c), k))

  /** Integer-nanos character-entropy sum — see [[CharEntropyNanos]]. */
  def charEntropyNanos(c: Column): Column = col(CharEntropyNanos(expr(c)))

  /** Fused product-quantization encode + reconstruction cosine over a
    * literal codebook — see [[PQEncode]]. `cb(j)(c)` = centroid c of
    * subspace j.
    */
  def pqEncode(vec: Column, cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Column = {
    val m = cb.length
    val k = cb.head.length
    val d = cb.head.head.length
    col(PQEncode(expr(vec), cb.flatten.flatten.toArray, m, k, d))
  }

  /** One-pass JL ±1 projection — see [[RademacherProject]]. */
  def rademacherProject(c: Column, outDim: Int): Column =
    col(RademacherProject(expr(c), outDim))

  /** Intersection size of two sorted-distinct array<long> columns —
    * see [[SortedIntersectSize]] (inputs MUST be sorted distinct).
    */
  def sortedIntersectSize(a: Column, b: Column): Column =
    col(SortedIntersectSize(expr(a), expr(b)))

  /** Mergeable Misra-Gries heavy-hitter summary of a string column —
    * map<token, lower-bound count>, see [[MisraGriesTopK]].
    */
  /** One-pass 3·d² gram triple over integer vectors — see
    * [[GramSumsMicros]]. Aggregate function: wrap in agg(). */
  def gramSumsMicros(a: Column, b: Column, dim: Int): Column =
    col(GramSumsMicros(expr(a), expr(b), dim).toAggregateExpression())

  def misraGriesTopK(c: Column, capacity: Int): Column =
    col(MisraGriesTopK(expr(c), capacity).toAggregateExpression())

  /** Banded random-hyperplane LSH keys of an embedding column (one fused
    * pass over the vector for all bands; see [[HyperplaneBands]]).
    */
  def hyperplaneBands(c: Column, bands: Int, rowsPerBand: Int, dim: Int, seed: Long): Column =
    col(HyperplaneBands(expr(c), bands, rowsPerBand, dim, seed))

  /** Seeded xxhash64 — Spark's builtin fixes seed=42; the reference keys
    * documents with seed 0xCAFEBABE (handlers/comments.js:14-17), so
    * bit-compatibility needs the seed parameter Spark's own `XxHash64`
    * expression already carries but `functions.xxhash64` does not expose.
    */
  def xxhash64Seeded(seed: Long, cols: Column*): Column =
    col(XxHash64(cols.map(expr), seed))

  /** Register the SQL-callable native functions on an existing session.
    * Integer-parameterized expressions take their parameter as a
    * literal argument (like Spark's own `approx_count_distinct` rsd).
    */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("simhash64",
      (es: Seq[Expression]) => SimHash64(es.head), "built-in")
    reg.createOrReplaceTempFunction("cosine_sim",
      (es: Seq[Expression]) => CosineSim(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("xxhash64_seeded",
      (es: Seq[Expression]) => xxHashWithLiteralSeed(es), "built-in")
    reg.createOrReplaceTempFunction("sorted_intersect_size",
      (es: Seq[Expression]) => SortedIntersectSize(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("char_entropy_nanos",
      (es: Seq[Expression]) => CharEntropyNanos(es.head), "built-in")
    reg.createOrReplaceTempFunction("shingle_hashes",
      (es: Seq[Expression]) => ShingleHashes(es(0), litInt(es, 1)), "built-in")
    reg.createOrReplaceTempFunction("portable_shingles",
      (es: Seq[Expression]) => PortableShingles(es(0), litInt(es, 1)), "built-in")
    reg.createOrReplaceTempFunction("minhash_sig",
      (es: Seq[Expression]) => MinHashSig(es(0), litInt(es, 1)), "built-in")
    reg.createOrReplaceTempFunction("portable_winnow",
      (es: Seq[Expression]) => PortableWinnow(es(0), litInt(es, 1), litInt(es, 2)), "built-in")
    reg.createOrReplaceTempFunction("damerau_levenshtein",
      (es: Seq[Expression]) => DamerauLevenshtein(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("jaro_winkler_micros",
      (es: Seq[Expression]) => JaroWinklerMicros(es(0), es(1)), "built-in")
  }

  private def litInt(es: Seq[Expression], pos: Int): Int = es(pos) match {
    case Literal(v: Int, _)  => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"argument ${pos + 1} must be a literal integer, got $other")
  }

  private[catalyst] def xxHashWithLiteralSeed(es: Seq[Expression]): Expression = es.head match {
    case Literal(seed: Long, _)   => XxHash64(es.tail, seed)
    case Literal(seed: Int, _)    => XxHash64(es.tail, seed.toLong)
    case other => throw new IllegalArgumentException(
      s"xxhash64_seeded(seed, cols...): seed must be a literal integer, got $other")
  }
}

/** SparkSessionExtensions hook: build the session with
  * `.withExtensions(new GraftExtensions)` (or set
  * `spark.sql.extensions=graft.catalyst.GraftExtensions`) and the native
  * functions resolve in SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("xxhash64_seeded"),
      new ExpressionInfo(classOf[XxHash64].getName, "xxhash64_seeded"),
      (es: Seq[Expression]) => GraftFunctions.xxHashWithLiteralSeed(es)))
  }
}
