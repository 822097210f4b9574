package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.Locale

/**
 * Seeded generator of station-shaped wide CSVs plus their ground truth.
 *
 * Every cell is a pure function of (seed, station, date, salt), so the
 * same seed always yields the same files, and the expected store state is
 * tracked cell by cell as integer cents (`Gen.NA` marks a nodata cell).
 * A value of `c` cents is written as `c/100` with two decimals, which casts
 * to exactly the double `c / 100.0`.
 */
final class Gen(val seed: Long, val stations: Int, val naFrac: Double) {
  import Gen._

  /** Station ids (the `SKN` column): distinct, decimal-looking strings. */
  val skn: Array[String] = Array.tabulate(stations) { i =>
    s"${i * 3 + 1 + (mix(seed, i, 0, 11) % 3)}.${mix(seed, i, 0, 12) % 10}"
  }

  /** Per-station nodata density around `naFrac` (±0.15). */
  private val stationNa: Array[Double] = Array.tabulate(stations) { i =>
    math.max(0.0, math.min(0.95, naFrac - 0.15 + 0.3 * (mix(seed, i, 0, 13) % 1000) / 1000.0))
  }

  /** Original cell value in cents, or `NA`, for station `i` on `date`. */
  def cell(i: Int, date: LocalDate, salt: Int = 0): Int = {
    val d = date.toEpochDay
    if ((mix(seed, i, d, 1 + salt) % 10000) / 10000.0 < stationNa(i)) NA
    else (mix(seed, i, d, 2 + salt) % 50000).toInt
  }

  /** A revised value that always differs from `cents`. */
  def revised(i: Int, date: LocalDate, cents: Int, rev: Int): Int =
    ((cents + 1 + mix(seed, i, date.toEpochDay, 100 + rev) % 999) % 50000).toInt

  /** Does a re-delivery with revision `rev` change station `i`'s cell? It
    * does for about 3 cells in 10; no source gives the real share. */
  def revises(i: Int, date: LocalDate, rev: Int): Boolean =
    mix(seed, i, date.toEpochDay, 200 + rev) % 10 < 3

  private def metadataRow(i: Int): Seq[String] = {
    def opt(salt: Int, v: => String) = if (mix(seed, i, 0, salt) % 4 == 0) "NA" else v
    Seq(skn(i), s"Station $i", opt(21, s"Observer ${mix(seed, i, 0, 22) % 50}"),
      opt(23, s"NET${mix(seed, i, 0, 24) % 6}"), Islands((mix(seed, i, 0, 25) % 6).toInt),
      "%.2f".formatLocal(Locale.ROOT, (mix(seed, i, 0, 26) % 400000) / 100.0),
      "%.4f".formatLocal(Locale.ROOT, 18.9 + (mix(seed, i, 0, 27) % 3000) / 1000.0),
      "%.4f".formatLocal(Locale.ROOT, -160.2 + (mix(seed, i, 0, 28) % 5000) / 1000.0),
      opt(29, s"USC00${51000 + i}"), opt(30, s"HI${i}"), "NA", opt(31, s"S$i"), "NA")
  }

  /**
   * Writes a by-name matrix: the 13-column metadata block, then one column
   * per date in `dates`. `values(i, k)` gives the cents of station `i` in
   * column `k`.
   */
  def writeByName(path: String, dates: Seq[LocalDate], period: String)
      (values: (Int, Int) => Int): Long = {
    val cols = MetadataHeader ++ dates.map(d => header(d, period))
    writeCsv(path, cols, i => metadataRow(i), dates.length, values)
  }

  /** Writes a by-position matrix: `SKN`, then one column per date. */
  def writeByPosition(path: String, dates: Seq[LocalDate])(values: (Int, Int) => Int): Long =
    writeCsv(path, "SKN" +: dates.map(d => header(d, Day)), i => Seq(skn(i)),
      dates.length, values)

  private def writeCsv(path: String, header: Seq[String], lead: Int => Seq[String],
      nValues: Int, values: (Int, Int) => Int): Long = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
      StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(header.mkString(","))
      w.write('\n')
      val sb = new java.lang.StringBuilder(nValues * 8)
      for (i <- 0 until stations) {
        sb.setLength(0)
        lead(i).foreach { s => sb.append(s).append(',') }
        for (k <- 0 until nValues) {
          appendCents(sb, values(i, k))
          if (k < nValues - 1) sb.append(',')
        }
        sb.append('\n')
        w.write(sb.toString)
      }
    } finally w.close()
    f.length()
  }
}

object Gen {
  final val NA = Int.MinValue
  final val Day = "day"
  final val Month = "month"
  final val Datatype = "rainfall"
  final val Fill = "raw"

  val MetadataHeader: Seq[String] = Seq("SKN", "Station.Name", "Observer", "Network",
    "Island", "ELEV.m.", "LAT", "LON", "NCEI.id", "NWS.id", "NESDIS.id", "SCAN.id",
    "SMART_NODE_RF.id")
  private val Islands = Array("BI", "MA", "KO", "MO", "LA", "OA")

  private val dayHeader = DateTimeFormatter.ofPattern("'X'yyyy.MM.dd")
  private val monthHeader = DateTimeFormatter.ofPattern("'X'yyyy.MM")
  private val dayIso = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val monthIso = DateTimeFormatter.ofPattern("yyyy-MM")

  def header(d: LocalDate, period: String): String =
    d.format(if (period == Day) dayHeader else monthHeader)

  /** The store's `date` value for a column of this period. */
  def iso(d: LocalDate, period: String): String =
    d.format(if (period == Day) dayIso else monthIso)

  def appendCents(sb: java.lang.StringBuilder, c: Int): Unit =
    if (c == NA) sb.append("NA")
    else {
      sb.append(c / 100).append('.')
      val r = c % 100
      if (r < 10) sb.append('0')
      sb.append(r)
    }

  def centsToDouble(c: Int): Double = c / 100.0

  /** The uuid the store gives a created row: md5 over the key fields
    * (datatype, period, date, fill, station_id) joined by U+0001. */
  def uuid(period: String, date: String, station: String): String = {
    val md = MessageDigest.getInstance("MD5")
    val bytes = md.digest(s"$Datatype\u0001$period\u0001$date\u0001$Fill\u0001$station"
      .getBytes(StandardCharsets.UTF_8))
    bytes.map(b => "%02x".format(b & 0xff)).mkString
  }

  /** splitmix64 finalizer over the cell coordinates; non-negative. */
  def mix(seed: Long, a: Long, b: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L +
      b * 0x94D049BB133111EBL + salt * 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  def days(start: LocalDate, n: Int): Seq[LocalDate] = (0 until n).map(k => start.plusDays(k))
  def months(start: LocalDate, n: Int): Seq[LocalDate] = (0 until n).map(k => start.plusMonths(k))
}
