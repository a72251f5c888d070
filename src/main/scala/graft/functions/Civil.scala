package graft.functions

/** Proleptic Gregorian civil dates as day arithmetic (H. Hinnant,
  * "chrono-Compatible Low-Level Date Algorithms"), counted as java.time's
  * IsoChronology counts them: day 0 is 1970-01-01 and year 0 is 1 BC.
  * The one copy of that arithmetic, shared by the `date_format` kernel,
  * the fixed-zone datetime kernels and the date-window rewrite. */
object Civil {

  /** The civil date `days` after 1970-01-01, packed allocation-free as
    * `(year << 9) | (month << 5) | day`; read it back with [[year]],
    * [[month]] and [[day]]. */
  def fromDays(days: Long): Long = {
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = era * 400L + yoe + (if (month <= 2) 1 else 0)
    (year << 9) | (month << 5) | day
  }

  def year(civil: Long): Long = civil >> 9
  def month(civil: Long): Int = ((civil >> 5) & 15).toInt
  def day(civil: Long): Int = (civil & 31).toInt

  /** Days from 1970-01-01 to the civil date (`year`, `month`, `day`);
    * the inverse of [[fromDays]] on valid dates. Month 13 is January of
    * the next year. */
  def toDays(year: Long, month: Int, day: Int): Long = {
    val y = year - (if (month <= 2) 1 else 0)
    val era = Math.floorDiv(y, 400L)
    val yoe = y - era * 400L
    val doy = (153 * (if (month > 2) month - 3 else month + 9) + 2) / 5 + day - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }
}
