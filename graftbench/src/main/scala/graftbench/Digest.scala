package graftbench

import java.io.ByteArrayOutputStream
import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Canonical result digest; byte-for-byte the encoding of digest.py, so a
  * collected Spark result can be compared with the DuckDB oracle's digest.
  * Columns are taken in name order, rows as a multiset, and non-integer
  * numbers at 10 significant digits. */
object Digest {

  private val ctx = new MathContext(10, RoundingMode.HALF_EVEN)

  private def blob(out: ByteArrayOutputStream, tag: Char, b: Array[Byte]): Unit = {
    out.write(tag.toInt)
    out.write(ByteBuffer.allocate(4).putInt(b.length).array())
    out.write(b)
  }

  private def number(d: JBigDecimal): String =
    if (d.signum == 0) "0e0"
    else {
      val r = d.round(ctx).stripTrailingZeros()
      s"${r.unscaledValue}e${-r.scale}"
    }

  private def double(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) { if (v > 0) "+Inf" else "-Inf" }
    else number(new JBigDecimal(v))

  private def micros(seconds: Long, nanos: Int): Long =
    seconds * 1000000L + nanos / 1000

  def encode(out: ByteArrayOutputStream, v: Any): Unit = v match {
    case null => out.write('n'.toInt)
    case b: Boolean => out.write((if (b) "o1" else "o0").getBytes(UTF_8))
    case i @ (_: Byte | _: Short | _: Int | _: Long | _: java.math.BigInteger) =>
      blob(out, 'i', i.toString.getBytes(UTF_8))
    case f: Float => blob(out, 'f', double(f.toDouble).getBytes(UTF_8))
    case d: Double => blob(out, 'f', double(d).getBytes(UTF_8))
    case d: JBigDecimal => blob(out, 'f', number(d).getBytes(UTF_8))
    case d: scala.math.BigDecimal => blob(out, 'f', number(d.bigDecimal).getBytes(UTF_8))
    case s: String => blob(out, 's', s.getBytes(UTF_8))
    case b: Array[Byte] => blob(out, 'b', b)
    case t: java.sql.Timestamp =>
      blob(out, 't', micros(Math.floorDiv(t.getTime, 1000L), t.getNanos).toString.getBytes(UTF_8))
    case t: java.time.Instant =>
      blob(out, 't', micros(t.getEpochSecond, t.getNano).toString.getBytes(UTF_8))
    case t: java.time.LocalDateTime =>
      blob(out, 't', micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
        .toString.getBytes(UTF_8))
    case d: java.sql.Date => blob(out, 'd', d.toLocalDate.toEpochDay.toString.getBytes(UTF_8))
    case d: java.time.LocalDate => blob(out, 'd', d.toEpochDay.toString.getBytes(UTF_8))
    case r: Row => nested(out, 'r', r.toSeq)
    case s: scala.collection.Seq[_] => nested(out, 'l', s)
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def nested(out: ByteArrayOutputStream, tag: Char, xs: Iterable[Any]): Unit = {
    val inner = new ByteArrayOutputStream()
    xs.foreach(encode(inner, _))
    blob(out, tag, inner.toByteArray)
  }

  /** sha256 hex of a result, given its column names and collected rows. */
  def apply(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val h = MessageDigest.getInstance("SHA-256")
    val head = new ByteArrayOutputStream()
    order.foreach(i => blob(head, 'c', columns(i).getBytes(UTF_8)))
    h.update(head.toByteArray)
    val encoded = rows.map { row =>
      val b = new ByteArrayOutputStream()
      order.foreach(i => encode(b, row.get(i)))
      b.toByteArray
    }
    java.util.Arrays.sort(encoded, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    h.update(ByteBuffer.allocate(8).putLong(encoded.length.toLong).array())
    encoded.foreach { e =>
      h.update(ByteBuffer.allocate(4).putInt(e.length).array())
      h.update(e)
    }
    h.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
