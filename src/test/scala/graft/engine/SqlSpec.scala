package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** A12 statement splitter + A10/A11 quoting — edge cases from the
  * reference lexer (/root/reference/src/App.tsx:66-151). Property-based
  * round-trips live in SqlProps (ScalaCheck). */
class SqlSpec extends AnyFunSuite {

  test("A11: string literal quoting doubles single quotes") {
    assert(Sql.sqlStringLiteral("a'b") == "'a''b'")
    assert(Sql.sqlStringLiteral("") == "''")
  }

  test("A10: bare identifiers stay bare; others get backticks") {
    assert(Sql.sqlIdentifier("foo_1") == "foo_1")
    assert(Sql.sqlIdentifier("  trimmed ") == "trimmed")
    assert(Sql.sqlIdentifier("weird name") == "`weird name`")
    assert(Sql.sqlIdentifier("back`tick") == "`back``tick`")
    assert(Sql.sqlIdentifier("1starts_digit") == "`1starts_digit`")
    assertThrows[IllegalArgumentException](Sql.sqlIdentifier("   "))
  }

  test("A21: example SQL uses the quoted identifier") {
    assert(Sql.tableExampleSql("my table")
      .endsWith("SELECT * FROM `my table` LIMIT 50;"))
  }

  test("split: semicolons inside strings and comments don't split") {
    val s = "SELECT ';' AS a; SELECT \"x;y\" FROM t -- tail; comment\n; " +
      "SELECT /* block; comment */ 2"
    assert(Sql.splitStatements(s) == Seq(
      "SELECT ';' AS a",
      "SELECT \"x;y\" FROM t -- tail; comment",
      "SELECT /* block; comment */ 2"))
  }

  test("split: doubled-quote escapes keep the string open") {
    assert(Sql.splitStatements("SELECT 'it''s; fine'; SELECT 2") ==
      Seq("SELECT 'it''s; fine'", "SELECT 2"))
    assert(Sql.splitStatements("SELECT \"a\"\";b\"; SELECT 2") ==
      Seq("SELECT \"a\"\";b\"", "SELECT 2"))
  }

  test("split: backtick identifiers shield ; and quote characters") {
    assert(Sql.splitStatements("SELECT 1 AS `a;b`; SELECT 2") ==
      Seq("SELECT 1 AS `a;b`", "SELECT 2"))
    assert(Sql.splitStatements("SELECT 'x' AS `it's`; SELECT 2") ==
      Seq("SELECT 'x' AS `it's`", "SELECT 2"))
    assert(Sql.splitStatements("SELECT 1 AS `a``;b`; SELECT 2") ==
      Seq("SELECT 1 AS `a``;b`", "SELECT 2"))
    // the example query for a table whose name needs backticks
    val example = Sql.tableExampleSql("o'brien")
    assert(Sql.splitStatements(example + "\nSELECT 2") ==
      Seq(example.stripSuffix(";"), "SELECT 2"))
  }

  test("runScript runs each statement of a script with backtick identifiers") {
    val df = Engine.runScript(graft.TestSpark.spark,
      "SELECT 1 AS `a;b`; SELECT 2 AS `it's`").get
    assert(df.columns.toSeq == Seq("it's"))
    assert(df.collect()(0).getInt(0) == 2)
  }

  test("statementAtPosition picks the containing statement") {
    val s = "SELECT 1; SELECT 2; SELECT 3"
    assert(Sql.statementAtPosition(s, 0) == "SELECT 1")
    assert(Sql.statementAtPosition(s, 12) == "SELECT 2")
    assert(Sql.statementAtPosition(s, s.length) == "SELECT 3")
  }

  test("statementAtPosition falls back to nearest non-empty neighbor") {
    // cursor in the empty trailing segment -> previous statement
    assert(Sql.statementAtPosition("SELECT 1;  ", 10) == "SELECT 1")
    // cursor in an empty middle segment -> earlier neighbor wins
    assert(Sql.statementAtPosition("SELECT 1; ;SELECT 3", 10) == "SELECT 1")
    // only later statements non-empty -> nearest later
    assert(Sql.statementAtPosition(" ;SELECT 9", 0) == "SELECT 9")
    assert(Sql.statementAtPosition("", 0) == "")
  }

  test("statementAtPosition clamps out-of-range positions") {
    assert(Sql.statementAtPosition("SELECT 1", -5) == "SELECT 1")
    assert(Sql.statementAtPosition("SELECT 1", 999) == "SELECT 1")
  }
}
