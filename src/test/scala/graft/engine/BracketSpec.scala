package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** Subscripts, slices and collection literals through the router, each
  * against the value DuckDB 1.0.0 returns for the same `SELECT` (measured
  * with the `duckdb` Python package, 1.0.0). The router marks each
  * adjacent bracket as a call and the analyzer picks the reading by the
  * base's type, so a list, a string, a struct and a map each read as
  * DuckDB reads them. */
class BracketSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  /** DuckDB's rendering in the Python client: NULL, lists in brackets,
    * strings quoted. */
  private def show(v: Any): String = v match {
    case null => "NULL"
    case l: scala.collection.Seq[_] => l.map(show).mkString("[", ", ", "]")
    case s: String => s"'$s'"
    case o => o.toString
  }

  private val duckdb10 = Seq(
    "[10,20,30][1]" -> "10",
    "[10,20,30][4]" -> "NULL",
    "[10,20,30][0]" -> "NULL",
    "[10,20,30][-1]" -> "30",
    "MAP {'a':1}['a']" -> "[1]",
    "MAP {'a':1}['b']" -> "[]",
    "'abc'[1]" -> "'a'",
    "'abc'[0]" -> "''",
    "'abc'[-1]" -> "'c'",
    "{'f':3}['f']" -> "3",
    "{'F':3}['f']" -> "3",
    "[1,2,3][-2:-1]" -> "[2, 3]",
    "[1,2,3][:-1]" -> "[1, 2, 3]",
    "[1,2,3][2:NULL]" -> "NULL",
    "[1,2,3][0:2]" -> "[1, 2]",
    "[1,2,3][2:-5]" -> "[]",
    "[1,2,3][:]" -> "[1, 2, 3]",
    "'abcdef'[2:4]" -> "'bcd'",
    "'abcdef'[-2:]" -> "'ef'",
    "list_slice([1,2,3], 1, -1)" -> "[1, 2, 3]",
    "list_slice('abc', 0, 2)" -> "'ab'",
    "list_transform([[1,2],[3,4]], x -> x[1])" -> "[1, 3]",
    "[[1,2],[3,4]][2][1]" -> "3",
    "list_zip([1,2],[3,4])[1][2]" -> "3",
    "ARRAY[1,2][2]" -> "2",
    "ARRAY [1,2][2]" -> "2",
    "[x * 10 FOR x IN [1,2,3]][2]" -> "20",
    "MAP {'k': [5,6]}['k'][1][2]" -> "6",
    "([4,5,6])[2]" -> "5",
    "(SELECT [7,8])[2]" -> "8")

  duckdb10.foreach { case (expr, want) =>
    test(s"SELECT $expr gives DuckDB 1.0's $want") {
      assert(show(Engine.sql(spark, s"SELECT $expr").head().get(0)) == want)
    }
  }
}
