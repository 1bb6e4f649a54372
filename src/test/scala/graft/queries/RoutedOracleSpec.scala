package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** The engine that runs the workbench's user SQL should run the repo's
  * own DuckDB witness texts. For every declared query still built with the
  * DataFrame API (not a `Tables.Text`) that has an oracle text, this spec
  * routes the text through `Engine.runScript` over the testdata views and
  * compares it with the builder the way the oracle hash compare does: column
  * names sorted, every cell stringified, rows in output order.
  *
  * `routed_expected_failures.txt` lists the queries whose routed text
  * fails or differs today. The list can only shrink: the spec fails when
  * an unlisted query fails (a regression in the router or in
  * `DuckdbCompat`), and when a listed query passes or is no longer a
  * builder with an oracle (take it off the list). */
class RoutedOracleSpec extends AnyFunSuite {

  // a session of its own: the routed scripts create temp views and tables
  private lazy val spark = graft.TestSpark.spark.newSession()
  private val dir = "/root/testdata/sf0.001"

  private def cell(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${cell(k)}->${cell(x)}" }
        .sorted.mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case o => o.toString
  }

  /** Sorted column names, then each row's cells in that column order. */
  private def canon(df: DataFrame): Seq[Seq[String]] = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2).toSeq
    order.map(df.columns(_)) +:
      df.collect().toSeq.map(r => order.map(i => cell(r.get(i))))
  }

  /** One name per line; `#` starts a comment (the failure's first cause). */
  private lazy val expected: Set[String] = {
    val src = scala.io.Source.fromResource(
      "routed_expected_failures.txt")(scala.io.Codec.UTF8)
    try src.getLines().map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty)
      .toSet
    finally src.close()
  }

  private lazy val builders: Seq[String] = graft.SparkEntry.oracleSql.keys
    .filterNot(n => graft.SparkEntry.queries(n).isInstanceOf[Tables.Text])
    .toSeq.sorted

  /** None when the routed text returns the builder's rows, else why not. */
  private def mismatch(name: String): Option[String] = {
    val built = canon(graft.SparkEntry.queries(name)(spark, dir))
    try {
      val routed =
        canon(Tables.script(graft.SparkEntry.oracleSql(name))(spark, dir))
      if (routed == built) None
      else if (routed.head != built.head) Some(s"columns ${routed.head}")
      else Some("rows differ")
    } catch {
      case e: Exception =>
        val root = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).toSeq.last
        Some(String.valueOf(root.getMessage).linesIterator
          .find(_.trim.nonEmpty).getOrElse(root.getClass.getName).take(100))
    }
  }

  test("routed oracle texts match their builders, except the listed ones") {
    val failing = builders.flatMap(n => mismatch(n).map(n -> _)).toMap
    val regressed = failing.keySet -- expected
    val mended = expected -- failing.keySet
    assert(regressed.isEmpty, "routed text does not match the builder:\n" +
      regressed.toSeq.sorted.map(n => s"$n  # ${failing(n)}").mkString("\n"))
    assert(mended.isEmpty,
      "take these off routed_expected_failures.txt (they pass now, or " +
        s"are no longer builders with an oracle): ${mended.toSeq.sorted}")
  }
}
