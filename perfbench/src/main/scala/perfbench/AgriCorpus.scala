package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded agmarknet-shaped CSV pages for the `agri-harvest` workload.
  *
  * Every page carries the record traps of the reference corpus: quoted
  * Market values with commas, day-first and ISO dates, unparseable dates
  * (kept with a null date), int and float price renderings, unparseable
  * or missing modal prices and missing commodities (dropped), commodity
  * names that `safe_name` rewrites, and the at-least-once duplicate
  * window: each page after the first starts by replaying the last
  * [[Replay]] records of the page before it.
  *
  * The generator is the oracle: it knows, per cycle, how many records
  * the pipeline reads, keeps and deduplicates, and the row count and
  * modal-price sum of every commodity partition it must publish. */
object AgriCorpus {
  val Pages = 4
  val RowsPerPage = 500
  val Replay = 25

  private val header =
    "State,District,Market,Commodity,Variety,Grade,Arrival_Date,Min_Price,Max_Price,Modal_Price,Commodity_Code"
  private val states = Array("Odisha", "Karnataka", "Maharashtra", "Punjab", "Tamil Nadu", "Kerala")
  private val commodities = Array("Apple", "Onion", "Moath Dal", "Bhindi(Ladies Finger)",
    "Paddy(Dhan)(Common)", "Green Chilli", "Banana - Ripe", "Egg", " Tomato ", "Coriander(Leaves)")
  private val grades = Array("FAQ", "Large", "Local", "Medium", "Small")

  /** Expected outcome of one harvest cycle. */
  final case class Expected(raw: Long, kept: Long, deduped: Long,
      partitions: Map[String, (Long, Double)]) {
    def dropped: Long = raw - kept
  }

  /** The reference's `safe_name`, written out independently of the program. */
  def safeName(s: String): String =
    s.toLowerCase.replaceAll("(?U)^\\s+|\\s+$", "").replaceAll("(?U)[^\\w\\s-]", "")
      .replaceAll("(?U)\\s+", "_")

  private final case class Rec(fields: Seq[String], valid: Boolean, commodity: String, modal: Double)

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  /** Write cycle `cycle`'s pages as `<prefix>-p<k>.csv` files in `dir`. */
  def writeCycle(dir: Path, prefix: String, seed: Long, cycle: Int): Expected = {
    val rnd = new scala.util.Random(seed * 1000003L + cycle)
    def pick[A](xs: Array[A]): A = xs(rnd.nextInt(xs.length))
    def record(i: Int): Rec = {
      val commodity = if (rnd.nextInt(50) == 0) "" else pick(commodities)
      val market = if (rnd.nextInt(8) == 0) s"Yard $i (F&V), Zone ${rnd.nextInt(9)}" else s"Market $i"
      val day = 1 + rnd.nextInt(28)
      val month = 1 + rnd.nextInt(12)
      val year = 2015 + rnd.nextInt(10)
      val date = rnd.nextInt(20) match {
        case 0 => s"$day/13/$year" // no month 13: kept with a null date
        case 1 | 2 | 3 => f"$year-$month%02d-$day%02d"
        case 4 | 5 => f"$day%02d/$month%02d/$year"
        case _ => s"$day/$month/$year"
      }
      val base = 100 * (5 + rnd.nextInt(90))
      val (modalText, modal) = rnd.nextInt(25) match {
        case 0 => ("N/A", Double.NaN)
        case 1 => ("", Double.NaN)
        case 2 | 3 | 4 => (s"$base.0", base.toDouble)
        case 5 | 6 => (s"$base.5", base + 0.5)
        case _ => (base.toString, base.toDouble)
      }
      val minText = if (rnd.nextInt(30) == 0) "n/a" else (base - 100).toString
      val code = if (rnd.nextInt(40) == 0) "x12" else rnd.nextInt(400).toString
      val valid = commodity.nonEmpty && !modal.isNaN
      Rec(Seq(pick(states), s"District ${rnd.nextInt(40)}", market, commodity,
        s"Variety ${rnd.nextInt(12)}", pick(grades), date, minText, (base + 100).toString,
        modalText, code), valid, commodity, modal)
    }
    val pages = (0 until Pages).map(p => (0 until RowsPerPage).map(i => record(p * RowsPerPage + i)))
    var raw, kept = 0L
    pages.zipWithIndex.foreach { case (page, p) =>
      val replayed = if (p == 0) Nil else pages(p - 1).takeRight(Replay)
      val rows = replayed ++ page
      raw += rows.size
      kept += rows.count(_.valid)
      val text = (header +: rows.map(_.fields.map(csvField).mkString(","))).mkString("", "\n", "\n")
      Files.write(dir.resolve(s"$prefix-p$p.csv"), text.getBytes(StandardCharsets.UTF_8))
    }
    val partitions = mutable.Map.empty[String, (Long, Double)]
    val unique = pages.flatten.filter(_.valid)
    unique.foreach { r =>
      val k = safeName(r.commodity)
      val (n, s) = partitions.getOrElse(k, (0L, 0.0))
      partitions(k) = (n + 1, s + r.modal)
    }
    Expected(raw, kept, unique.size.toLong, partitions.toMap)
  }
}
