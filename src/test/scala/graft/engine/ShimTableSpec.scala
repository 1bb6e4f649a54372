package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The order rules of the dialect shim table (`Engine.shims`), as data:
  * each pair (a, b) says shim a runs before shim b. */
class ShimTableSpec extends AnyFunSuite {

  private val names = Engine.shims.map(_.name)
  private def at(name: String): Int = {
    val i = names.indexOf(name)
    assert(i >= 0, s"no shim named $name in ${names.mkString(", ")}")
    i
  }

  test("shim names are distinct") {
    assert(names.distinct == names)
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
}
