package perfbench

/** Answer checking. Results arrive in three shapes: Spark rows (the
  * expected answers, read straight from the fixture parquet), gosnowflake
  * rowsets (every value a string) and REST v2 data (typed JSON). All three
  * are reduced to one canonical text per value, so a check compares row
  * counts and an order-insensitive hash of the canonical rows. */
object Answers {

  /** Decimal places numbers are rounded to before hashing. */
  val Scale = 2

  def canon(v: Any): String = v match {
    case null => "<null>"
    case None => "<null>"
    case Some(x) => canon(x)
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => num(d)
    case d: scala.math.BigDecimal => num(d.bigDecimal)
    case d: Double => num(new java.math.BigDecimal(d))
    case f: Float => num(new java.math.BigDecimal(f.toDouble))
    case n: java.lang.Number => num(new java.math.BigDecimal(n.toString))
    case s: String =>
      val t = s.trim
      if (looksNumeric(t)) num(new java.math.BigDecimal(t)) else t
    case other => other.toString.trim
  }

  private def looksNumeric(s: String): Boolean =
    s.nonEmpty && (s.head.isDigit || s.head == '-' || s.head == '.') &&
      scala.util.Try(new java.math.BigDecimal(s)).isSuccess

  private def num(d: java.math.BigDecimal): String = {
    val r = d.setScale(Scale, java.math.RoundingMode.HALF_UP)
    // -0.00 and 0.00 are the same number
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  def canonRow(row: Seq[Any]): String = row.map(canon).mkString("\u0001")

  /** Row count and an order-insensitive digest of a result. */
  final case class Digest(rows: Int, hash: Long)

  def digest(rows: Iterable[Seq[Any]]): Digest = {
    var h = 0L
    var n = 0
    rows.foreach { r =>
      h += mix(scala.util.hashing.MurmurHash3.stringHash(canonRow(r)).toLong)
      n += 1
    }
    Digest(n, h)
  }

  // spread each row's 32-bit hash over 64 bits so the sum is
  // order-insensitive without letting two rows cancel each other
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
