package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Order-insensitive full-row digest of a DataFrame, computed on the
  * executors.
  *
  * Each row becomes a canonical string (columns sorted by name, values
  * in an engine-neutral text form), the first 8 bytes of its SHA-256 are
  * summed modulo 2^64, and the digest is `"<rows>:<sum as 16 hex>"`.
  * `oracle_digests.py` computes the same digest from DuckDB rows, so the
  * canonical forms below must stay in step with `canon` there:
  *
  *  - null → `∅`; booleans, integers and strings → their plain text;
  *  - decimals → plain notation with trailing zeros stripped (`0` for 0);
  *  - floating point → the exact binary value rounded half-even to 9
  *    decimals, trailing zeros stripped (`0` for ±0), `nan`/`inf`/`-inf`;
  *  - timestamps → microseconds since the epoch; dates → ISO-8601;
  *  - arrays → `[a,b]`; maps → `{k:v,...}` sorted by key text.
  */
object Digest {

  def of(df: DataFrame): String = {
    val names = df.columns.sorted
    val (rows, sum) = df.select(names.map(n => col(s"`$n`")).toIndexedSeq: _*).rdd
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("SHA-256")
        var n = 0L; var s = 0L
        it.foreach { r => n += 1; s += rowHash(md, names, r) }
        Iterator((n, s))
      }
      .fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    f"$rows:$sum%016x"
  }

  private def rowHash(md: MessageDigest, names: Array[String], r: Row): Long = {
    val sb = new StringBuilder
    var i = 0
    while (i < names.length) {
      if (i > 0) sb.append('\u0001')
      sb.append(names(i)).append('=').append(canon(r.get(i)))
      i += 1
    }
    val h = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: JBigDecimal => if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val b = new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN)
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
