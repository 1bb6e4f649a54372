package graft.engine

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

import com.fasterxml.jackson.core.io.schubfach.DoubleToDecimal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.FirstPage

/** Result presentation — A13 (display limiter), A14 (cell formatter),
  * A19 (metadata line); reference `/root/reference/src/arrow.ts:3-45`,
  * `src/App.tsx:435-439`.
  *
  * Every cell renders to a String with the reference's rules: null → "",
  * integers/decimals → plain decimal string, temporals → ISO-8601 UTC with
  * milliseconds (JS `Date.toISOString` shape), nested values → JSON, else
  * `toString`.
  */
object Render {

  /** The display page: column names, stringified rows, true total. */
  final case class DisplayTable(
      columns: Seq[String], rows: Seq[Seq[String]], totalRows: Long) {
    def shown: Int = rows.size
  }

  /** The reference's display cap (`src/App.tsx:435`). */
  val DisplayLimit = 200

  private val IsoMillis =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXX")
      .withZone(ZoneOffset.UTC)

  private def iso(i: Instant): String = IsoMillis.format(i)

  /** A14: cell formatter (`src/arrow.ts:3-15`). The JS side sees temporals
    * as `Date` and renders `toISOString()`; the matching JVM renderings are
    * pinned to UTC with forced milliseconds. Doubles and floats render as
    * JS `String(value)` (see jsNumber) — notably `42.0` prints `42`, not
    * the JVM's `42.0`. */
  def formatCell(value: Any): String = value match {
    case null => ""
    case t: java.sql.Timestamp => iso(t.toInstant)
    case d: java.sql.Date => iso(d.toLocalDate.atStartOfDay(ZoneOffset.UTC).toInstant)
    case d: LocalDate => iso(d.atStartOfDay(ZoneOffset.UTC).toInstant)
    case dt: LocalDateTime => iso(dt.toInstant(ZoneOffset.UTC))
    case i: Instant => iso(i)
    case d: java.lang.Double => jsNumber(d.doubleValue)
    case f: java.lang.Float => jsNumber(f.doubleValue)
    case b: Array[Byte] => json(b)
    case s: collection.Seq[_] => json(s)
    case m: collection.Map[_, _] => json(m)
    case r: Row => json(r)
    case other => other.toString
  }

  /** JS `String(number)` for a double (`/root/reference/src/arrow.ts:14`
    * renders every cell through `String(value)`, and Arrow JS hands float
    * columns to JS as float64 — a FLOAT cell is the WIDENED float, so
    * `0.1f` renders `0.10000000149011612`, which `jsNumber(f.toDouble)`
    * reproduces). Rules mirrored from ECMA-262 Number::toString: integral
    * values below 1e21 print with no decimal point (`String(42.0)` is
    * `"42"`); `-0` prints `"0"`; fixed notation within [1e-6, 1e21),
    * exponent notation outside, spelled `1e+21` / `1.5e-7`. Digit
    * selection matches because `shortestDigits` below picks the minimal
    * round-tripping decimal, closest to the value, as JS does. */
  private[engine] def jsNumber(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d == Double.PositiveInfinity) "Infinity"
    else if (d == Double.NegativeInfinity) "-Infinity"
    else if (d == 0.0) "0" // also -0.0: JS String(-0) === "0"
    else {
      val (digits, n) = shortestDigits(math.abs(d))
      val k = digits.length
      // the value is 0.<digits> x 10^n (ECMA-262's s, k and n)
      val s =
        if (k <= n && n <= 21) digits + "0" * (n - k)
        else if (0 < n && n <= 21) digits.substring(0, n) + "." + digits.substring(n)
        else if (-6 < n && n <= 0) "0." + "0" * -n + digits
        else { // JS exponent form: d[.ddd]e±x
          val mant = if (k == 1) digits else s"${digits.head}.${digits.tail}"
          val exp = n - 1
          s"${mant}e${if (exp >= 0) "+" else "-"}${math.abs(exp)}"
        }
      if (d < 0) "-" + s else s
    }
  }

  /** The shortest decimal that round-trips to `a` (finite, > 0): its
    * significant digits, no leading or trailing zero, and the exponent
    * `n` with `a` = 0.<digits> x 10^n. The digits come from Schubfach
    * (Giulietti, "The Schubfach way to render doubles", 2020), the
    * algorithm JDK 19 adopted for `Double.toString`; this JVM's own
    * `Double.toString` is not always minimal (JDK-4511638). Schubfach
    * never returns fewer than 2 digits, so a 2-digit answer is checked
    * against the 1-digit roundings of the exact value: the closer one
    * that parses back wins (`java.lang.Double.MIN_VALUE` is `5e-324` in
    * JS, where Schubfach says `4.9E-324`). Only a subnormal can need this: a normal
    * double's rounding interval is far narrower than the gap between a
    * 2-digit decimal and its 1-digit neighbours. */
  private def shortestDigits(a: Double): (String, Int) = {
    val s = DoubleToDecimal.toString(a) // "123.45", "0.00123" or "1.2E-7"
    val e = s.indexOf('E')
    val mant = if (e < 0) s else s.substring(0, e)
    val dot = mant.indexOf('.')
    val all = mant.substring(0, dot) + mant.substring(dot + 1)
    var from = 0
    while (all.charAt(from) == '0') from += 1
    var to = all.length
    while (all.charAt(to - 1) == '0') to -= 1
    val n = dot - from + (if (e < 0) 0 else s.substring(e + 1).toInt)
    if (to - from != 2 || a >= java.lang.Double.MIN_NORMAL)
      (all.substring(from, to), n)
    else {
      val exact = new JBigDecimal(a)
      val oneDigit = Seq(RoundingMode.FLOOR, RoundingMode.CEILING)
        .map(m => exact.round(new MathContext(1, m)))
        .filter(c => java.lang.Double.parseDouble(c.toString) == a)
        .sortBy(c => c.subtract(exact).abs)
      oneDigit.headOption match {
        case Some(c) => (c.unscaledValue.toString, 1 - c.scale)
        case None => (all.substring(from, to), n)
      }
    }
  }

  /** Minimal JSON rendering for nested values (`JSON.stringify` analog). */
  private def json(value: Any): String = value match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Array[Byte] => json(b.map(x => (x & 0xff).toString).mkString("[", ",", "]"))
    case s: collection.Seq[_] => s.map(json).mkString("[", ",", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, v) => json(String.valueOf(k)) + ":" + json(v) }
        .mkString("{", ",", "}")
    case r: Row =>
      r.schema.fieldNames.zip(r.toSeq)
        .map { case (k, v) => json(k) + ":" + json(v) }
        .mkString("{", ",", "}")
    case t: java.sql.Timestamp => json(iso(t.toInstant))
    case d: java.sql.Date =>
      json(iso(d.toLocalDate.atStartOfDay(ZoneOffset.UTC).toInstant))
    // JSON.stringify: finite numbers render like String(value);
    // NaN/Infinity become null
    case d: java.lang.Double =>
      if (d.isNaN || d.isInfinite) "null" else jsNumber(d.doubleValue)
    case f: java.lang.Float =>
      if (f.isNaN || f.isInfinite) "null" else jsNumber(f.doubleValue)
    case n: (java.lang.Number) => n.toString
    case b: java.lang.Boolean => b.toString
    case other => json(other.toString)
  }

  /** A13: at most `limit` rendered rows + the true total (`src/arrow.ts:
    * 28-45`, `src/App.tsx:435-439`) — the reference materializes the full
    * Arrow table once and shows 200. Here too the statement runs ONCE
    * (`FirstPage`): every task returns its row count and at most `limit`
    * rows, and the driver sums the counts and keeps the first `limit`
    * rows in partition order. A select list at the plan's root is
    * evaluated on the driver for the page rows only, as `count()` never
    * evaluated it. A result whose plan ends in a global sort runs the
    * sort's input instead: each task keeps its count plus its top-`limit`
    * rows, and the driver merges those lists — no range-partition
    * sampling job and no range shuffle for a page of 200. */
  def tableToRows(df: DataFrame, limit: Int = DisplayLimit): DisplayTable = {
    val (total, page) = FirstPage(df, limit)
    DisplayTable(df.columns.toSeq, page.map(r => r.toSeq.map(formatCell)), total)
  }

  /** A19: the result metadata line (`src/App.tsx:436-439`). */
  def infoLine(t: DisplayTable): String =
    s"Linhas: ${t.totalRows} (mostrando ${t.shown}) · Colunas: ${t.columns.size}"
}
