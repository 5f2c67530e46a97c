package perfbench

import org.apache.spark.sql.Row

/** Checksum stability checks, run by `tests/test_stats.py`; needs no Spark
  * session. Exits non-zero on the first failed check. */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"FAILED: $what"); sys.exit(1) }

  private def sum(rows: Seq[Row]): Long = rows.map(Checksum.rowHash).sum

  def main(args: Array[String]): Unit = {
    val rows = Seq(
      Row(1L, "a", 0.1 + 0.2, Seq(1, 2), Map("x" -> 1, "y" -> 2)),
      Row(2L, null, 1e-9, Seq.empty[Int], Map.empty[String, Int]),
      Row(3L, "c", -0.0, Seq(3), Map("z" -> 3)))
    check(sum(rows) == sum(rows.reverse), "row order changes the checksum")
    check(Checksum.canon(0.1 + 0.2) == Checksum.canon(0.3), "a last-bit double difference changes the checksum")
    check(Checksum.canon(1234.5678912) != Checksum.canon(1234.5778912), "a sixth-digit double difference is lost")
    check(Checksum.canon(-0.0) == Checksum.canon(0.0), "signed zero changes the checksum")
    check(Checksum.canon(Map("x" -> 1, "y" -> 2)) == Checksum.canon(Map("y" -> 2, "x" -> 1)),
      "map entry order changes the checksum")
    check(Checksum.canon(Seq(1, 2)) != Checksum.canon(Seq(2, 1)), "array order is lost")
    check(sum(rows) != sum(rows.updated(1, Row(2L, "b", 1e-9, Seq.empty[Int], Map.empty[String, Int]))),
      "a changed value keeps the checksum")
    check(sum(rows) != sum(rows :+ rows.head), "a duplicated row keeps the checksum")
    check(Checksum.canon(new java.math.BigDecimal("1.50")) == Checksum.canon(new java.math.BigDecimal("1.5")),
      "decimal scale changes the checksum")
    println("checksum self-test ok")
  }
}
