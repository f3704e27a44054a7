package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded generator for the pipeline's three source CSVs and its increment
  * CSVs, in the reference's layout (FIXTURES.md §1).
  *
  * Besides the base skew (dispatching bases weighted like the reference's
  * top-3 distribution, so the top three never tie), every fact file carries
  * the fixture edge cases at scale:
  *  - null `pickup_date` (COUNT(col) vs COUNT(*));
  *  - pickups in July–December (the month CASE with no ELSE);
  *  - `dispatching_base_num` != `affiliated_base_num` on a fifth of rows;
  *  - exact ties in one base's per-date counts (RANK gaps): the base
  *    `B02836` gets no random rows, only planted dates whose counts tie at
  *    rank 3.
  * The same seed always writes the same bytes.
  */
object UberData {
  val bases: Seq[(String, String)] = Seq(
    "B02512" -> "Unter", "B02598" -> "Hinter", "B02617" -> "Weiter",
    "B02682" -> "Schmecken", "B02764" -> "Danach-NY", "B02765" -> "Grun",
    "B02774" -> "Alfred", "B02835" -> "Dreist", "B02836" -> "Drinnen")
  // dispatching-base weights (percent); B02836 only appears through the
  // planted tie dates
  private val weights = Seq(4, 7, 15, 24, 40, 6, 2, 2, 0)
  private val cumulative = weights.scanLeft(0)(_ + _).tail
  private val boroughs = Seq("Bronx", "Brooklyn", "Manhattan", "Queens", "Staten Island", "EWR")
  private val zones = 265
  private val TieBase = "B02836"
  // per-date counts planted for TieBase: ranks 1, 2, 3, 3, then a gap to 5
  private val tieCounts = Seq(60, 45, 30, 30, 20, 10)

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val monthStart = (1 to 13).map(m =>
    if (m <= 12) LocalDateTime.of(2015, m, 1, 0, 0) else LocalDateTime.of(2016, 1, 1, 0, 0))

  private def write(path: File)(body: BufferedWriter => Unit): Long = {
    path.getParentFile.mkdirs()
    val w = Files.newBufferedWriter(path.toPath, StandardCharsets.UTF_8)
    try body(w) finally w.close()
    path.length()
  }

  private def pickBase(r: SplittableRandom): Int = {
    val x = r.nextInt(100)
    cumulative.indexWhere(x < _)
  }

  private def secondsIn(month: Int): Long =
    java.time.Duration.between(monthStart(month - 1), monthStart(month)).getSeconds

  /** One fact row in `month` (1-12), or with a null date when month == 0. */
  private def factRow(r: SplittableRandom, month: Int, sb: java.lang.StringBuilder): Unit = {
    val d = pickBase(r)
    val a = if (r.nextInt(5) == 0) (d + 1 + r.nextInt(bases.size - 1)) % bases.size else d
    sb.append(bases(d)._1).append(',')
    if (month > 0)
      sb.append(fmt.format(monthStart(month - 1).plusSeconds(r.nextLong(secondsIn(month)))))
    sb.append(',').append(bases(a)._1).append(',').append(1 + r.nextInt(zones)).append('\n')
  }

  /** A month for a base-file row: 99% Jan–Jun, 0.5% Jul–Dec, 0.5% null. */
  private def baseMonth(r: SplittableRandom): Int = {
    val x = r.nextInt(1000)
    if (x < 5) 0 else if (x < 10) 7 + r.nextInt(6) else 1 + r.nextInt(6)
  }

  private def plantTies(r: SplittableRandom, months: Seq[Int], w: BufferedWriter): Unit = {
    val sb = new java.lang.StringBuilder
    val days = Iterator.continually {
      val m = months(r.nextInt(months.size))
      monthStart(m - 1).plusDays(r.nextLong(secondsIn(m) / 86400L))
    }.distinct.take(tieCounts.size).toSeq
    tieCounts.zip(days).foreach { case (n, day) =>
      (0 until n).foreach { _ =>
        sb.append(TieBase).append(',')
          .append(fmt.format(day.plusSeconds(r.nextLong(86400L)))).append(',')
          .append(TieBase).append(',').append(1 + r.nextInt(zones)).append('\n')
      }
    }
    w.write(sb.toString)
  }

  private def factFile(path: File, rows: Long, seed: Long, month: SplittableRandom => Int,
      tieMonths: Seq[Int]): Long = write(path) { w =>
    val r = new SplittableRandom(seed)
    w.write("dispatching_base_num,pickup_date,affiliated_base_num,locationid\n")
    val sb = new java.lang.StringBuilder(1 << 16)
    var i = 0L
    while (i < rows) {
      factRow(r, month(r), sb)
      if (sb.length > (1 << 16) - 128) { w.write(sb.toString); sb.setLength(0) }
      i += 1
    }
    w.write(sb.toString)
    plantTies(r, tieMonths, w)
  }

  /** Write the three source CSVs under `dir`; returns their total bytes. */
  def sources(dir: String, factRows: Long, seed: Long): Long = {
    val base = write(new File(s"$dir/base_num_and_name.csv")) { w =>
      w.write("base_num,base_name\n")
      bases.foreach { case (n, name) => w.write(s"$n,$name\n") }
    }
    val zone = write(new File(s"$dir/taxi_zone_lookup.csv")) { w =>
      w.write("locationid,borough,zone\n")
      (1 to zones).foreach(i => w.write(s"$i,${boroughs(i % boroughs.size)},Zone $i\n"))
    }
    base + zone + factFile(new File(s"$dir/raw_data_janjune_15.csv"), factRows, seed,
      baseMonth, 1 to 6)
  }

  /** Increment `i` of a seeded sequence: restates one or two Jan–Jun
    * months with fresh rows (about a month's share of `factRows` each).
    * Returns the CSV path.
    */
  def increment(dir: String, i: Int, factRows: Long, seed: Long): String = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val first = 1 + r.nextInt(6)
    val months =
      if (r.nextBoolean()) Seq(first) else Seq(first, 1 + (first + r.nextInt(5)) % 6)
    val perMonth = factRows / 6
    val rows = months.size * (perMonth * 9 / 10 + r.nextLong(perMonth / 5 + 1))
    val path = f"$dir/inc_$i%04d.csv"
    factFile(new File(path), rows, r.nextLong(), rr => months(rr.nextInt(months.size)), months)
    path
  }
}
