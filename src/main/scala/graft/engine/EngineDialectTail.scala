package graft.engine

import EngineLex.finds

/** Round-19 tail of the pure-text dialect shims (A6) — split from
  * [[EngineDialect]] by file only, same discipline: text shims over the
  * `codeMask` lexing, EngineProps identity-gated. */
private[engine] trait EngineDialectTail {
  this: Engine.type =>

  /** `expr AT TIME ZONE 'tz'` — the SQL-standard conversion operator
    * DuckDB parses and Spark's grammar lacks. DuckDB's semantics are
    * type-directed: a NAIVE timestamp interprets its wall time in the
    * zone (→ instant), an INSTANT renders its wall time in the zone
    * (→ naive). This engine's reachable timestamp space is naive
    * (parquet ntz columns + literals), so the first application maps
    * to `to_utc_timestamp` and an application whose base is itself an
    * instant-producer — a prior to_utc_timestamp (chains:
    * `ts AT TIME ZONE 'a' AT TIME ZONE 'b'` rewrites left-to-right),
    * current_timestamp, or now() — maps to `from_utc_timestamp`.
    * The zone must be a string LITERAL (a computed zone can't be
    * classified and refuses loudly); Spark and DuckDB read the same
    * IANA zone rules, so the converted instants agree. Left operand
    * extent via exprStartLeft (the subscript walker). */
  private[engine] val rewriteAtTimeZone: TextShim = TextShim("at-time-zone",
    finds("\\bAT\\s+TIME\\s+ZONE\\b"))(atTimeZone)

  private def atTimeZone(lx: Lexed): String = {
    val s = lx.s
    val re = "(?is)\\bAT\\s+TIME\\s+ZONE\\b\\s*".r
    re.findAllMatchIn(s).foreach { m =>
      if (lx.code(m.start)) {
        require(m.end < s.length && s.charAt(m.end) == '\'',
          "AT TIME ZONE needs a literal zone name ('America/New_York'):" +
            " a computed zone cannot be routed")
        val zone = lx.literalAfter(m.end)
        require(zone.isDefined, "unterminated zone literal after AT TIME ZONE")
        val tzEnd = zone.get._2
        val tz = s.substring(m.end, tzEnd)
        var e = m.start
        while (e > 0 && s.charAt(e - 1).isWhitespace) e -= 1
        var baseStart = exprStartLeft(lx, e)
        // a typed literal (TIMESTAMP '…' / DATE '…') is ONE operand:
        // the string-literal walker stops at the quote, so pull the
        // type keyword in too or it would orphan before the call wrap
        if (baseStart < s.length && s.charAt(baseStart) == '\'') {
          var w = baseStart
          while (w > 0 && s.charAt(w - 1).isWhitespace) w -= 1
          var ws = w
          while (ws > 0 && (s.charAt(ws - 1).isLetter)) ws -= 1
          val word = s.substring(ws, w)
          if (Set("TIMESTAMP", "DATE").contains(word.toUpperCase))
            baseStart = ws
        }
        val base = s.substring(baseStart, e)
        require(base.trim.nonEmpty,
          "AT TIME ZONE has no left operand to convert")
        val instant = ("(?is)^\\s*(to_utc_timestamp\\s*\\(.*|" +
          "current_timestamp|now\\s*\\(\\s*\\))\\s*$").r
        val fn = if (instant.matches(base)) "from_utc_timestamp"
          else "to_utc_timestamp"
        return rewriteAtTimeZone(
          s.substring(0, baseStart) + s"$fn($base, $tz)" +
            s.substring(tzEnd))
      }
    }
    s
  }

  /** DuckDB spells null-skipping window modifiers INSIDE the call —
    * `lag(x, 1 IGNORE NULLS)`, `first_value(x IGNORE NULLS)` — where
    * Spark's grammar wants them between the call and OVER:
    * `lag(x, 1) IGNORE NULLS OVER (…)`. The shim moves an
    * IGNORE/RESPECT NULLS whose next code token is the closing paren
    * to just after it — a pure local swap, so nesting and every other
    * argument shape pass through; a modifier NOT at argument-list tail
    * is not DuckDB grammar and stays for Spark's parser to refuse. */
  private[engine] val rewriteIgnoreNulls: TextShim = TextShim("ignore-nulls",
    finds("\\b(IGNORE|RESPECT)\\s+NULLS\\b"))(ignoreNulls)

  private def ignoreNulls(lx: Lexed): String = {
    val s = lx.s
    val re = "(?is)\\b(IGNORE|RESPECT)\\s+NULLS\\b".r
    re.findAllMatchIn(s).foreach { m =>
      if (lx.code(m.start)) {
        var j = m.end
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        if (j < s.length && lx.code(j) && s.charAt(j) == ')') {
          var e = m.start
          while (e > 0 && s.charAt(e - 1).isWhitespace) e -= 1
          return rewriteIgnoreNulls(
            s.substring(0, e) + ") " + m.matched + s.substring(j + 1))
        }
      }
    }
    s
  }
}
