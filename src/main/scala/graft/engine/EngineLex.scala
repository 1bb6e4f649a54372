package graft.engine

import java.util.regex.Pattern
import scala.util.matching.Regex
import org.apache.spark.sql.{DataFrame, SparkSession}

import EngineLex.codeMask

/** A statement as the router's one quote/comment state machine
  * (`EngineLex.codeMask`) reads it. `shield(i)` is 0 when char i is
  * code — outside string literals, double-quoted/backtick identifiers
  * and both comment styles — and otherwise the character that opened
  * the region holding it: `'`, `"`, `` ` ``, or `-` / `/` for a line /
  * block comment. `depth(i)` is the paren depth BEFORE char i, counted
  * over code only. `unclosed` is true when the text ends inside a
  * region (an unterminated literal, identifier or block comment). */
private[engine] final class Lexed(
    val s: String, val shield: Array[Char], val depth: Array[Int],
    val unclosed: Boolean) {

  def code(i: Int): Boolean = shield(i) == 0

  /** End (exclusive) of the region holding char `i`: a shielded run
    * is one region, because two regions of the same kind never touch
    * (a doubled quote is an escape, not a close and a reopen). */
  def regionEnd(i: Int): Int = {
    var j = i + 1
    while (j < s.length && shield(j) == shield(i)) j += 1
    j
  }

  /** Index of the `)` that closes the code `(` at `open`; -1 when the
    * text ends first. */
  def closeOf(open: Int): Int = {
    val d = depth(open) + 1
    var c = open + 1
    while (c < s.length && !(code(c) && s.charAt(c) == ')' && depth(c) == d))
      c += 1
    if (c < s.length) c else -1
  }

  /** Index of the code `close` bracket that balances the code `open`
    * bracket at `at` (square or curly brackets: `depth` counts parens
    * only); -1 when the text ends first. */
  def balance(at: Int, open: Char, close: Char): Int = {
    var d = 0
    var j = at
    while (j < s.length) {
      if (code(j) && s.charAt(j) == open) d += 1
      else if (code(j) && s.charAt(j) == close) {
        d -= 1
        if (d == 0) return j
      }
      j += 1
    }
    -1
  }

  /** The text with each match of `re` that starts in code replaced by
    * `f(match)`; None keeps the match. */
  def replaceInCode(re: Regex)(f: Regex.Match => Option[String]): String =
    re.replaceSomeIn(s, m =>
      if (code(m.start)) f(m).map(Regex.quoteReplacement) else None)

  /** The string literal that opens at `from` after any whitespace, as
    * (body with its `''` escapes kept, index just past the closing
    * quote); None when no literal opens there or it never closes. The
    * router's one literal scanner: every shim that takes a literal
    * operand (SIMILAR TO, GLOB, `~`, AT TIME ZONE) reads it here. */
  def literalAfter(from: Int): Option[(String, Int)] = {
    var p = from
    while (p < s.length && s.charAt(p).isWhitespace) p += 1
    if (p >= s.length || s.charAt(p) != '\'' || shield(p) != '\'') None
    else {
      val end = regionEnd(p)
      if (end == s.length && unclosed) None
      else Some((s.substring(p + 1, end - 1), end))
    }
  }
}

private[engine] object EngineLex {

  /** Lex a statement: THE quote/comment state machine behind every
    * keyword scanner, splitter and dialect shim of the router, the
    * statement splitter (`Sql.segments`) and the path-table tokens
    * (`Catalog.rewritePathTables`) — so a QUALIFY/ASOF/WHERE or a `;`
    * sitting inside a `--` comment, a block comment, a string literal or
    * a quoted identifier never triggers a route or a split. Quotes
    * escape by doubling (`''`, `""`, ``` `` ```). */
  def codeMask(s: String): Lexed = {
    val n = s.length
    val shield = new Array[Char](n)
    val depth = new Array[Int](n)
    var open: Char = 0 // the region being read; 0 = code
    var skip = 0 // chars already consumed by a two-char token
    var d = 0
    var i = 0
    while (i < n) {
      depth(i) = d
      val ch = s.charAt(i)
      val nx = if (i + 1 < n) s.charAt(i + 1) else ' '
      if (skip > 0) { skip -= 1; shield(i) = shield(i - 1) }
      else {
        val was = open
        open match {
          case '-' => if (ch == '\n') open = 0
          case '/' => if (ch == '*' && nx == '/') { open = 0; skip = 1 }
          case q if q != 0 =>
            if (ch == q && nx == q) skip = 1
            else if (ch == q) open = 0
          case _ =>
            if (ch == '-' && nx == '-') open = '-'
            else if (ch == '/' && nx == '*') { open = '/'; skip = 1 }
            else if (ch == '\'' || ch == '"' || ch == '`') open = ch
            else if (ch == '(') d += 1
            else if (ch == ')') d = math.max(0, d - 1)
        }
        // a region's opening and closing chars both belong to it
        shield(i) = if (was != 0) was else open
      }
      i += 1
    }
    new Lexed(s, shield, depth, open != 0)
  }

  /** A shim trigger: true when every pattern is found (case-insensitive,
    * `.` spanning lines). Compiled once, where the shim is declared. */
  def finds(res: String*): String => Boolean = {
    val ps = res.map(Pattern.compile(_, Pattern.CASE_INSENSITIVE | Pattern.DOTALL))
    s => ps.forall(_.matcher(s).find())
  }
}

/** Where a shim applies: `Query` reads or reshapes one query's clauses,
  * so it runs on the statement and again on every query body inside
  * it; `Token` rewrites a spelling wherever it sits, so one scan of the
  * whole statement (or DML clause, or macro body) covers every depth. */
private[engine] sealed trait Scope
private[engine] object Scope {
  case object Query extends Scope
  case object Token extends Scope
}

/** One entry of the router's dialect shim table (`Engine.shims`): a
  * name, a cheap text trigger, a scope, and a rewrite of the lexed
  * statement. The trigger is a necessary condition — on text it
  * rejects, the rewrite would return the text unchanged. A shim marked
  * `reenter` turns the statement into a new shape, so when it fires its
  * output runs through the table's Query entries again. */
private[engine] class Shim(
    val name: String, val trigger: String => Boolean, val scope: Scope,
    val reenter: Boolean)(val rewrite: (SparkSession, Lexed) => String)

private[engine] object Shim {
  def apply(name: String, trigger: String => Boolean,
      scope: Scope = Scope.Token, reenter: Boolean = false)(
      rewrite: (SparkSession, Lexed) => String): Shim =
    new Shim(name, trigger, scope, reenter)(rewrite)
}

/** A shim that reads only the statement text. It also applies on its
  * own as a `String => String` — trigger, lex, rewrite — which is how a
  * shim re-applies itself to its own output. */
private[engine] final class TextShim(
    name: String, trigger: String => Boolean, scope: Scope, reenter: Boolean)(
    f: Lexed => String)
    extends Shim(name, trigger, scope, reenter)((_, lx) => f(lx))
    with (String => String) {
  def apply(s: String): String = if (trigger(s)) f(codeMask(s)) else s
}

private[engine] object TextShim {
  def apply(name: String, trigger: String => Boolean,
      scope: Scope = Scope.Token, reenter: Boolean = false)(
      f: Lexed => String): TextShim =
    new TextShim(name, trigger, scope, reenter)(f)
}

/** The top-level keyword/separator scanners every route and shim builds
  * on, over `codeMask`. Mixed into [[Engine]]; split out by file only. */
private[engine] trait EngineLex {
  this: Engine.type =>

  /** Every top-level (outside string literals, quoted identifiers,
    * comments, and parens) whitespace-delimited occurrence of any of
    * `kws`, in order, case-insensitive: the one keyword matcher under
    * `firstTopLevelKeyword`, `allTopLevelKeyword` and `splitOnKeyword`.
    * `parenBoundary` also accepts `(` as the trailing boundary — for
    * keywords a user types flush against a paren, like
    * `ON CONFLICT(k)`. */
  private[engine] def topLevelKeywords(
      s: String, kws: Seq[String], parenBoundary: Boolean): Iterator[Int] = {
    val lx = codeMask(s)
    (0 until s.length).iterator.filter { i =>
      lx.code(i) && lx.depth(i) == 0 &&
        (i == 0 || s.charAt(i - 1).isWhitespace) &&
        kws.exists { kw =>
          val end = i + kw.length
          end <= s.length && s.regionMatches(true, i, kw, 0, kw.length) &&
            (end == s.length || s.charAt(end).isWhitespace ||
              (parenBoundary && s.charAt(end) == '('))
        }
    }
  }

  /** Index of the first top-level occurrence of any of `kws`. */
  private[engine] def firstTopLevelKeyword(
      s: String, kws: Seq[String]): Option[Int] =
    topLevelKeywords(s, kws, parenBoundary = false).nextOption()

  /** Every top-level index of `kw`, `(` accepted as its boundary. */
  private[engine] def allTopLevelKeyword(s: String, kw: String): Seq[Int] =
    topLevelKeywords(s, Seq(kw), parenBoundary = true).toSeq

  /** Split on a top-level keyword. A keyword has no whitespace inside, so two hits never
    * overlap. */
  private[engine] def splitOnKeyword(s: String, kw: String): Seq[String] = {
    val cuts = topLevelKeywords(s, Seq(kw), parenBoundary = false).toSeq
    (-kw.length +: cuts).zip(cuts :+ s.length)
      .map { case (from, to) => s.substring(from + kw.length, to) }
  }

  /** Split on a separator at paren/quote/comment top level only (SET
    * lists carry commas inside function calls and string literals). */
  private[engine] def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.Buffer.empty[String]
    val lx = codeMask(s)
    var last = 0
    var i = 0
    while (i < s.length) {
      if (lx.code(i) && lx.depth(i) == 0 && s.charAt(i) == sep) {
        out += s.substring(last, i); last = i + 1
      }
      i += 1
    }
    out += s.substring(last)
    out.toSeq
  }

  /** A SUMMARIZE/DESCRIBE target: a full SELECT runs as-is; anything else
    * (table name, quoted path) wraps in SELECT * FROM so the path-table
    * rewrite applies uniformly. */
  private[engine] def sqlTarget(spark: SparkSession, target: String): DataFrame =
    // \b word boundary (mirroring describeSelRe): a table NAMED
    // `selected_docs` is a table, not a SELECT statement
    if (target.trim.matches("(?is)^SELECT\\b.*")) sql(spark, target)
    else sql(spark, s"SELECT * FROM ${target.trim}")

}
