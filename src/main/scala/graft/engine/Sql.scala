package graft.engine

/** SQL-text utilities: quoting (A10/A11), the statement-at-cursor splitter
  * (A12), and the example-query generator (A21).
  *
  * Reference behavior: the reference workbench's `src/App.tsx:44-64`
  * (quoting, example SQL) and `:66-151` (the mini-lexer). The splitter
  * keeps the reference's statement semantics — statements split on
  * top-level `;`, the cursor-statement fallback order (containing
  * statement, else nearest non-empty earlier statement, else nearest
  * later) — over the router's one quote/comment lexer
  * (`EngineLex.codeMask`): `'…'` and `"…"` regions with doubled-quote
  * escapes, `--` line comments and slash-star block comments as in the
  * reference, plus backtick identifiers, because identifiers quote with
  * backticks in Spark SQL (`sqlIdentifier` emits them).
  */
object Sql {

  /** A11: SQL string literal, `'` doubled (src/App.tsx:44-46). */
  def sqlStringLiteral(value: String): String =
    "'" + value.replace("'", "''") + "'"

  private val BareIdent = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** A10: SQL identifier — bare if simple, else quoted with the quote char
    * doubled (src/App.tsx:48-53). Spark dialect: backticks, not `"`. */
  def sqlIdentifier(value: String): String = {
    val trimmed = value.trim
    require(trimmed.nonEmpty, "empty table name")
    if (BareIdent.matches(trimmed)) trimmed
    else "`" + trimmed.replace("`", "``") + "`"
  }

  /** A21: example query for a newly created table (src/App.tsx:61-64). */
  def tableExampleSql(tableName: String): String =
    s"-- Exemplo rápido\nSELECT * FROM ${sqlIdentifier(tableName)} LIMIT 50;"

  /** Half-open [start, end) character range of one `;`-delimited statement. */
  final case class Segment(start: Int, end: Int)

  /** A12: split `sql` into segments on top-level `;` — string literals,
    * quoted identifiers (`"…"` and Spark's `` `…` ``) and both comment
    * styles shield `;`. Always returns at least one (possibly empty)
    * trailing segment, exactly like the reference (src/App.tsx:69-135). */
  def segments(sql: String): Vector[Segment] = {
    val lx = EngineLex.codeMask(sql)
    val cuts = (0 until sql.length).filter(i => lx.code(i) && sql.charAt(i) == ';')
    (-1 +: cuts).zip(cuts :+ sql.length)
      .map { case (semi, end) => Segment(semi + 1, end) }.toVector
  }

  /** All non-empty statements of a script, in order (B30). */
  def splitStatements(sql: String): Seq[String] =
    segments(sql).map(s => sql.substring(s.start, s.end).trim).filter(_.nonEmpty)

  /** A12: the trimmed statement containing `position`, else the nearest
    * non-empty earlier statement, else the nearest later one, else ""
    * (src/App.tsx:137-151). */
  def statementAtPosition(sql: String, position: Int): String = {
    val segs = segments(sql)
    val pos = math.max(0, math.min(position, sql.length))
    def pick(i: Int): String = sql.substring(segs(i).start, segs(i).end).trim
    val idx0 = segs.indexWhere(s => pos >= s.start && pos <= s.end)
    val idx = if (idx0 == -1) segs.length - 1 else idx0
    if (pick(idx).nonEmpty) pick(idx)
    else {
      val before = (idx - 1 to 0 by -1).iterator.map(pick).find(_.nonEmpty)
      val after = (idx + 1 until segs.length).iterator.map(pick).find(_.nonEmpty)
      before.orElse(after).getOrElse("")
    }
  }
}
