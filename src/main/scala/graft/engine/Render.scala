package graft.engine

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

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
    * selection matches because `shortestRepr` below picks the minimal
    * round-tripping decimal, as JS does. */
  private[engine] def jsNumber(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d == Double.PositiveInfinity) "Infinity"
    else if (d == Double.NegativeInfinity) "-Infinity"
    else if (d == 0.0) "0" // also -0.0: JS String(-0) === "0"
    else {
      val a = math.abs(d)
      val s =
        if (a == math.rint(a) && a < 1e21)
          new java.math.BigDecimal(shortestRepr(a)).toBigInteger.toString
        else {
          val bd = new java.math.BigDecimal(shortestRepr(a))
            .stripTrailingZeros
          if (a >= 1e-6 && a < 1e21) bd.toPlainString
          else { // JS exponent form: d[.ddd]e±x
            val digits = bd.unscaledValue.toString
            val exp = digits.length - 1 - bd.scale
            val mant =
              if (digits.length == 1) digits
              else s"${digits.head}.${digits.tail}"
            val sign = if (exp >= 0) "+" else "-"
            s"${mant}e$sign${math.abs(exp)}"
          }
        }
      if (d < 0) "-" + s else s
    }
  }

  /** Shortest decimal that round-trips to `a` exactly — the digit
    * selection JS `String(value)` uses. This JVM's `Double.toString` is
    * not always minimal (JDK-4511638, fixed only in JDK 19: e.g.
    * `1e23.toString` is `"9.999999999999999E22"`), so probe 1..17
    * significant digits and take the first representation that parses
    * back to the same double. */
  private def shortestRepr(a: Double): String = {
    var p = 0
    while (p < 17) {
      val s = String.format(java.util.Locale.ROOT, s"%.${p}e",
        java.lang.Double.valueOf(a))
      if (java.lang.Double.parseDouble(s) == a) return s
      p += 1
    }
    java.lang.Double.toString(a)
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
