package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The dialect shim table (`Engine.shims`) as data: each entry's scope,
  * the order rules — each pair (a, b) says shim a runs before shim b —
  * and the entry points derived from the one table. */
class ShimTableSpec extends AnyFunSuite {

  private val names = Engine.shims.map(_.name)
  private def at(name: String): Int = {
    val i = names.indexOf(name)
    assert(i >= 0, s"no shim named $name in ${names.mkString(", ")}")
    i
  }

  private val queryNames = Seq("from-first", "distinct-on", "union-by-name",
    "subquery-bodies", "trailing-commas", "star-exclude", "columns",
    "star-replace", "using-sample", "asof-join", "qualify")

  test("shim names are distinct") {
    assert(names.distinct == names)
  }

  test("every entry declares its scope: 11 Query entries, the rest Token") {
    assert(Engine.shims.filter(_.scope == Scope.Query).map(_.name) ==
      queryNames)
    Engine.shims.foreach { s =>
      val want = if (queryNames.contains(s.name)) Scope.Query else Scope.Token
      assert(s.scope == want, s.name)
    }
    assert(Engine.shims.count(_.scope == Scope.Token) == 20)
  }

  test("the table keeps its order rules") {
    val reshaping = Seq("from-first", "distinct-on", "union-by-name")
    val rules =
      reshaping.map(_ -> "subquery-bodies") ++
        // subquery bodies run before every outer shim
        names.drop(at("subquery-bodies") + 1).map("subquery-bodies" -> _) ++
        Seq(
          "agg-order-by" -> "nulls-order",
          "star-exclude" -> "star-replace",
          "star-exclude" -> "columns",
          // a body's trailing commas go before QUALIFY splits its list
          "trailing-commas" -> "qualify",
          "path-tables" -> "literals",
          "path-tables" -> "subscripts",
          // every adjacent bracket is a call before the list passes read
          "subscripts" -> "list-comprehension",
          "subscripts" -> "literals",
          "list-comprehension" -> "literals")
    rules.foreach { case (a, b) =>
      assert(at(a) < at(b), s"$a must run before $b")
    }
    // only the statement-reshaping shims re-enter the table
    assert(Engine.shims.filter(_.reenter).map(_.name) == reshaping)
  }

  test("clause text runs subquery-bodies, then the Token entries in table order") {
    val tokens = Engine.shims.filter(_.scope == Scope.Token)
    val clause = Engine.clauseShims
    assert(clause.map(_.name) == "subquery-bodies" +: tokens.map(_.name))
    // the same entries, not a second list kept by hand
    clause.foreach(c => assert(Engine.shims.exists(_ eq c), c.name))
    assert(!Engine.getClass.getMethods.exists(_.getName == "exprShims"),
      "Engine.exprShims is gone: clause text derives from the table")
  }

  test("a query body runs only the Query entries") {
    val spark = graft.TestSpark.spark
    // a Token spelling stays for the statement's one scan
    assert(Engine.rewriteQueryBody(spark, "SELECT k // 2, FROM t") ==
      "SELECT k // 2 FROM t")
    // the statement's pass reads the body once, at its own depth
    assert(Engine.rewriteQueryText(spark,
      "SELECT * FROM (SELECT k // 2, FROM t) AS s") ==
      "SELECT * FROM (SELECT k  DIV  2 FROM t) AS s")
  }
}
