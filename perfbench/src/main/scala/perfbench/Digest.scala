package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import java.nio.charset.StandardCharsets.UTF_8

/** Order-insensitive fingerprint of a query result: the row count and the
  * wrapping sum of one 64-bit hash per row. Columns are taken in name
  * order and doubles are rendered to 9 significant digits, so the digest
  * ignores row order and last-bit float noise but nothing else. */
object Digest {

  final case class Result(rows: Long, digest: Long) {
    def hex: String = f"$digest%016x"
  }

  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("∅")
    case d: Double => renderDouble(d, sb)
    case f: Float => renderDouble(f.toDouble, sb)
    case b: java.math.BigDecimal =>
      sb.append(if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString)
    case b: scala.math.BigDecimal => render(b.bigDecimal, sb)
    case r: Row =>
      sb.append('{')
      var i = 0
      while (i < r.length) { render(r.get(i), sb); sb.append(';'); i += 1 }
      sb.append('}')
    case s: scala.collection.Map[_, _] =>
      sb.append('<')
      s.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        render(k, e); e.append('='); render(x, e); e.toString
      }.sorted.foreach(e => sb.append(e).append(';'))
      sb.append('>')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.foreach { x => render(x, sb); sb.append(';') }
      sb.append(']')
    case a: Array[Byte] => a.foreach(b => sb.append(f"${b & 0xff}%02x"))
    case x => sb.append(x.toString)
  }

  private def renderDouble(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) sb.append('0')
    else sb.append(String.format(java.util.Locale.ROOT, "%.8e", Double.box(d)))

  def rowHash(r: Row): Long = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < r.length) { render(r.get(i), sb); sb.append('|'); i += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(sb.toString.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h).getLong
  }

  def of(df: DataFrame): Result = {
    val cols = df.columns.sorted
    val (n, h) = df.select(cols.map(c => df.col(s"`$c`")).toIndexedSeq: _*).rdd
      .map(r => (1L, rowHash(r)))
      .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    Result(n, h)
  }
}
