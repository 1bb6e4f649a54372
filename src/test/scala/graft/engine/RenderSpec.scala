package graft.engine

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.scalatest.funsuite.AnyFunSuite

/** A14 cell formatter against the type table in SURVEY §1.2
  * (/root/reference/src/arrow.ts:3-15), + A13/A19 via a real DataFrame. */
class RenderSpec extends AnyFunSuite {

  test("A14: null -> empty string") {
    assert(Render.formatCell(null) == "")
  }

  test("A14: integers and decimals render as plain decimal strings") {
    assert(Render.formatCell(42L) == "42")
    assert(Render.formatCell(new java.math.BigDecimal("12.30")) == "12.30")
    assert(Render.formatCell(1.5d) == "1.5")
    assert(Render.formatCell(true) == "true")
    assert(Render.formatCell("s") == "s")
  }

  test("A14: doubles/floats render as JS String(value)") {
    // integral doubles lose the '.0' (String(42.0) === "42")
    assert(Render.formatCell(42.0d) == "42")
    assert(Render.formatCell(-7.0d) == "-7")
    assert(Render.formatCell(1.5d) == "1.5")
    assert(Render.formatCell(-0.0d) == "0") // String(-0) === "0"
    // JS fixed-notation range is wider than Java's (Java switches to
    // E-notation at 1e7; JS at 1e21)
    assert(Render.formatCell(12345678.9d) == "12345678.9")
    assert(Render.formatCell(1e20) == "100000000000000000000")
    // JS exponent spelling outside [1e-6, 1e21)
    assert(Render.formatCell(1e21) == "1e+21")
    assert(Render.formatCell(1.5e-7) == "1.5e-7")
    // JDK 17 Double.toString is non-minimal here ("9.999999999999999E22");
    // JS String(1e23) === "1e+23" — the Schubfach digits restore parity
    assert(Render.formatCell(1e23) == "1e+23")
    assert(Render.formatCell(0.000001d) == "0.000001")
    // floats arrive in JS as the widened double
    assert(Render.formatCell(0.1f) == "0.10000000149011612")
    assert(Render.formatCell(2.5f) == "2.5")
    assert(Render.formatCell(Double.NaN) == "NaN")
    // JSON.stringify inside nested values: 42.0 -> 42, NaN -> null
    assert(Render.formatCell(Seq(42.0d, Double.NaN)) == "[42,null]")
  }

  test("A14: doubles print the shortest round-tripping digits") {
    // integral doubles >= 2^53: a 17-digit string rounded again would
    // print 7056189866916628500 and 684865059874709300
    assert(Render.jsNumber(7.0561898669166285e18) == "7056189866916628000")
    assert(Render.jsNumber(6.8486505987470925e17) == "684865059874709200")
    assert(Render.jsNumber(-6.8486505987470925e17) == "-684865059874709200")
    // Schubfach prints at least 2 digits ("4.9E-324"); JS prints the 1
    assert(Render.jsNumber(java.lang.Double.MIN_VALUE) == "5e-324")
    assert(Render.jsNumber(2 * java.lang.Double.MIN_VALUE) == "1e-323")
    assert(Render.jsNumber(3 * java.lang.Double.MIN_VALUE) == "1.5e-323")
    assert(Render.jsNumber(Double.MaxValue) == "1.7976931348623157e+308")
    assert(Render.jsNumber(Double.MinValue) == "-1.7976931348623157e+308")
    assert(Render.jsNumber(java.lang.Double.MIN_NORMAL) == "2.2250738585072014e-308")
  }

  test("A14: temporals render ISO-8601 UTC with milliseconds (JS shape)") {
    assert(Render.formatCell(java.sql.Timestamp.valueOf("1997-03-15 12:34:56"))
      == "1997-03-15T12:34:56.000Z") // JVM zone pinned UTC in build.sbt
    assert(Render.formatCell(LocalDate.of(1997, 3, 15))
      == "1997-03-15T00:00:00.000Z")
    assert(Render.formatCell(java.sql.Date.valueOf("1997-03-15"))
      == "1997-03-15T00:00:00.000Z")
  }

  test("A14: nested values render as JSON") {
    assert(Render.formatCell(Seq(1L, 2L)) == "[1,2]")
    assert(Render.formatCell(Map("k" -> "v\n")) == "{\"k\":\"v\\n\"}")
    assert(Render.formatCell(Seq(Seq("a"), null)) == "[[\"a\"],null]")
  }

  test("A13/A19: display limiter reports the true total") {
    val spark = graft.TestSpark.spark
    val df = spark.range(500).toDF("id")
    val page = Render.tableToRows(df.orderBy("id"), limit = 200)
    assert(page.columns == Seq("id"))
    assert(page.totalRows == 500 && page.shown == 200)
    assert(page.rows.head == Seq("0"))
    assert(Render.infoLine(page) ==
      "Linhas: 500 (mostrando 200) · Colunas: 1")
  }

  private lazy val spark = graft.TestSpark.spark

  /** The single-pass page must agree with the two-job contract it
    * replaced: `count()` for the total, `limit(n).collect()` for rows. */
  private def agrees(df: DataFrame, n: Int = 200): Render.DisplayTable = {
    val page = Render.tableToRows(df, n)
    assert(page.columns == df.columns.toSeq)
    assert(page.totalRows == df.count())
    assert(page.rows ==
      df.limit(n).collect().toSeq.map(_.toSeq.map(Render.formatCell)))
    page
  }

  test("A13 single pass: an empty result") {
    val page = agrees(spark.range(0, 100, 1, 8).toDF("id").filter("id < 0"))
    assert(page.totalRows == 0 && page.rows.isEmpty)
    assert(agrees(spark.range(0).toDF("id").orderBy("id")).totalRows == 0)
    // a zero-row page still counts every row
    assert(Render.tableToRows(spark.range(0, 30, 1, 3).toDF("id").orderBy("id"), 0)
      .totalRows == 30)
  }

  test("A13 single pass: a one-partition result") {
    val page = agrees(spark.range(0, 50, 1, 1).selectExpr("id", "id * 3 AS t"))
    assert(page.totalRows == 50 && page.shown == 50)
  }

  test("A13 single pass: more than limit unordered rows over 8 partitions") {
    val df = spark.range(0, 1000, 1, 8).selectExpr("id", "id % 7 AS m")
    assert(df.rdd.getNumPartitions == 8)
    val page = agrees(df)
    assert(page.totalRows == 1000 && page.shown == 200)
  }

  test("A13 single pass: the select list runs on the page rows only") {
    // as under count() + limit(n), a row past the page never evaluates
    // the projection, so its error does not surface
    val df = spark.range(0, 1000, 1, 8).selectExpr("id",
      "CASE WHEN id = 900 THEN raise_error('past the page') ELSE id * 2 END AS v")
    assert(df.queryExecution.optimizedPlan.isInstanceOf[Project])
    val page = agrees(df)
    assert(page.totalRows == 1000 && page.rows(3) == Seq("3", "6"))
  }

  test("A13 single pass: a fully ordered result over 8 partitions") {
    val df = spark.range(0, 1000, 1, 8).selectExpr("id", "1000 - id AS r")
      .orderBy("r")
    assert(df.queryExecution.optimizedPlan.isInstanceOf[Sort])
    val page = agrees(df)
    assert(page.totalRows == 1000 && page.rows.head == Seq("999", "1"))
    agrees(df, 7)
  }

  test("A13 single pass: ORDER BY a column that is not projected") {
    spark.range(0, 1000, 1, 8).toDF("id").createOrReplaceTempView("render_r")
    val df = spark.sql(
      "SELECT concat('r', id) AS s FROM render_r ORDER BY id % 10, id DESC")
    assert(df.queryExecution.optimizedPlan match {
      case Project(_, _: Sort) => true
      case _ => false
    })
    val page = agrees(df)
    assert(page.rows.take(2) == Seq(Seq("r990"), Seq("r980")))
  }

  test("A13 single pass: ORDER BY ... DESC NULLS LAST") {
    val df = spark.sql(
      """SELECT id, CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS v
        |FROM range(0, 600, 1, 8) ORDER BY v DESC NULLS LAST, id""".stripMargin)
    val page = agrees(df)
    assert(page.rows.head == Seq("599", "599"))
    // nulls sort after the non-null values: 480 of 600 rows are non-null
    val all = agrees(df, 600)
    assert(all.rows.drop(480).forall(_(1) == ""))
  }

  test("A13 single pass: ORDER BY ... LIMIT") {
    val df = spark.sql(
      "SELECT id FROM range(0, 1000, 1, 8) ORDER BY id DESC LIMIT 50")
    assert(agrees(df).totalRows == 50)
    assert(agrees(df, 20).rows.map(_.head) == (999 to 980 by -1).map(_.toString))
  }

  test("A13 single pass: temporal and nested cells") {
    val df = spark.sql(
      """SELECT id,
        |  timestamp'2024-01-02 03:04:05.678' + make_interval(0, 0, 0, id) AS ts,
        |  date_add(date'2024-02-28', CAST(id AS INT)) AS d,
        |  array(id, id + 1) AS arr,
        |  map('k', id) AS m,
        |  named_struct('a', id, 'b', CAST(id AS STRING)) AS st
        |FROM range(0, 300, 1, 8) ORDER BY id""".stripMargin)
    val page = agrees(df)
    assert(page.rows(1) == Seq("1", "2024-01-03T03:04:05.678Z",
      "2024-02-29T00:00:00.000Z", "[1,2]", "{\"k\":1}", "{\"a\":1,\"b\":\"1\"}"))
    agrees(df.drop("id"))
  }

  test("A13 single pass: a DDL statement's result frame") {
    val ddl = spark.sql(
      "CREATE OR REPLACE TEMPORARY VIEW render_ddl AS SELECT 1 AS x")
    assert(agrees(ddl).totalRows == 0)
    assert(agrees(spark.sql("DESCRIBE render_ddl")).totalRows == 1)
  }

  test("A13 single pass: a grouped, ordered statement fires at most 2 jobs") {
    val df = spark.sql(
      """SELECT id % 37 AS k, count(*) AS c FROM range(0, 5000, 1, 8)
        |GROUP BY id % 37 ORDER BY k""".stripMargin)
    val jobs = graft.TestSpark.jobsFiredBy {
      val page = Render.tableToRows(df)
      assert(page.totalRows == 37 && page.rows.head == Seq("0", "136"))
    }
    assert(jobs <= 2, s"tableToRows fired $jobs jobs")
  }
}
