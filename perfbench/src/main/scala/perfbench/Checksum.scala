package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Order-insensitive output fingerprint: the row count and the wrapping
  * sum of a 64-bit hash of each row's canonical text. Doubles are rounded
  * to [[Digits]] significant digits first, so a different summation order
  * inside an aggregate (shuffle fetch order varies run to run) cannot
  * change the fingerprint; map entries are sorted, since map order is not
  * part of a result. */
object Checksum {
  val Digits = 6
  private val mc = new java.math.MathContext(Digits, java.math.RoundingMode.HALF_EVEN)

  /** Fingerprint of `df`'s output, computed over `df`'s own query
    * execution (`Dataset.rdd` would plan a second one), so the Catalyst
    * phases of that execution run inside the caller's timing. */
  def of(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r => n += 1; h += rowHash(toRow(r).asInstanceOf[Row]) }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) => (n + pn, h + ph) }
  }

  def rowHash(r: Row): Long = hash64(canon(r))

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case bytes: Array[Byte] => bytes.map(b => f"$b%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString

  def hex(h: Long): String = f"$h%016x"
}
