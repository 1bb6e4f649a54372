package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FilterExec, ProjectExec}
import org.apache.spark.sql.types.IntegerType

import graft.engine.Engine

/** `ParamLiterals`: an int, long, double, date or timestamp literal of a
  * filter or a projection reaches generated code as a parameter, so a
  * statement re-run with only that literal edited compiles no class,
  * while its rows, its errors, its plan text and its pushed filters stay
  * those of the literal. */
class ParamLiteralsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  /** 100 rows over two parquet files: i INT, l BIGINT, d DOUBLE (i / 2),
    * dt DATE (2024-01-01 + i days), ts TIMESTAMP (2024-01-01 + i hours). */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("param-literals")
      .resolve("pt").toString
    spark.range(0, 100, 1, 2).selectExpr(
      "CAST(id AS INT) i", "id l", "id * 0.5D d",
      "date_add(DATE'2024-01-01', CAST(id AS INT)) dt",
      "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0) ts")
      .write.parquet(d)
    d
  }

  private def view(s: SparkSession): Unit =
    s.read.parquet(dir).createOrReplaceTempView("pt")

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|"))

  /** Statement texts that differ only in one literal, and the rows each
    * must return. */
  private val pairs: Seq[(String, (String, Seq[String]), (String, Seq[String]))] = Seq(
    ("filter int",
      "SELECT l FROM pt WHERE i > 96" -> Seq("97", "98", "99"),
      "SELECT l FROM pt WHERE i > 97" -> Seq("98", "99")),
    ("filter long",
      "SELECT i FROM pt WHERE l < 2" -> Seq("0", "1"),
      "SELECT i FROM pt WHERE l < 3" -> Seq("0", "1", "2")),
    ("filter double",
      "SELECT i FROM pt WHERE d >= 49.0D" -> Seq("98", "99"),
      "SELECT i FROM pt WHERE d >= 48.5D" -> Seq("97", "98", "99")),
    ("filter date BETWEEN",
      "SELECT i FROM pt WHERE dt BETWEEN DATE'2024-01-03' AND DATE'2024-01-04'" ->
        Seq("2", "3"),
      "SELECT i FROM pt WHERE dt BETWEEN DATE'2024-01-05' AND DATE'2024-01-07'" ->
        Seq("4", "5", "6")),
    ("filter timestamp",
      "SELECT i FROM pt WHERE ts < TIMESTAMP'2024-01-01 01:30:00'" -> Seq("0", "1"),
      "SELECT i FROM pt WHERE ts < TIMESTAMP'2024-01-01 00:30:00'" -> Seq("0")),
    ("project int",
      "SELECT i + 5 FROM pt WHERE l < 2" -> Seq("5", "6"),
      "SELECT i + 7 FROM pt WHERE l < 2" -> Seq("7", "8")),
    ("project long",
      "SELECT l * 3 FROM pt WHERE l < 2" -> Seq("0", "3"),
      "SELECT l * 4 FROM pt WHERE l < 2" -> Seq("0", "4")),
    ("project double",
      "SELECT d - 0.25D FROM pt WHERE l < 2" -> Seq("-0.25", "0.25"),
      "SELECT d - 1.5D FROM pt WHERE l < 2" -> Seq("-1.5", "-1.0")),
    ("project date",
      "SELECT dt > DATE'2024-01-01' FROM pt WHERE l < 2" -> Seq("false", "true"),
      "SELECT dt > DATE'2023-12-31' FROM pt WHERE l < 2" -> Seq("true", "true")),
    ("project timestamp",
      "SELECT ts = TIMESTAMP'2024-01-01 01:00:00' FROM pt WHERE l < 2" ->
        Seq("false", "true"),
      "SELECT ts = TIMESTAMP'2024-01-01 00:00:00' FROM pt WHERE l < 2" ->
        Seq("true", "false")))

  pairs.foreach { case (what, (first, firstRows), (second, secondRows)) =>
    test(s"$what: the edited statement compiles no class, with its own rows") {
      val s = spark.newSession()
      view(s)
      var got = Seq.empty[String]
      compiles { got = rows(Engine.sql(s, first)) }
      assert(got.sorted == firstRows.sorted)
      val n = compiles { got = rows(Engine.sql(s, second)) }
      assert(got.sorted == secondRows.sorted)
      assert(n == 0, s"'$second' compiled $n classes after '$first'")
    }
  }

  test("a UNION ALL of two shuffled branches that differ in a literal keeps both") {
    Seq("true", "false").foreach { adaptive =>
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", adaptive)
      view(s)
      def branch(lo: Int) =
        s"SELECT i % 3 AS g, count(*) AS c FROM pt WHERE l >= $lo GROUP BY i % 3"
      val a = rows(Engine.sql(s, branch(10)))
      val b = rows(Engine.sql(s, branch(70)))
      assert(a != b)
      val both = rows(Engine.sql(s, s"${branch(10)} UNION ALL ${branch(70)}"))
      assert(both.sorted == (a ++ b).sorted, s"adaptive=$adaptive")
    }
  }

  test("parameters canonicalize by value, so plans that differ in one never merge") {
    val five = ParamLiteral(5, IntegerType)
    assert(five.canonicalized == ParamLiteral(5, IntegerType).canonicalized)
    assert(five.canonicalized != ParamLiteral(6, IntegerType).canonicalized)
    assert(five.toString == "5" && five.sql == "5")
  }

  test("a NaN double stays a Literal, so a plan with one still equals its copy") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    view(s)
    def plan = Engine.sql(s,
      "SELECT i FROM pt WHERE d <> CAST('NaN' AS DOUBLE) AND i > 3").queryExecution.executedPlan
    val kept = plan.collect { case f: FilterExec => f.condition }.flatMap(_.collect {
      case Literal(v: Double, _) if v.isNaN => "literal"
      case ParamLiteral(v: Double, _) if v.isNaN => "param"
    })
    assert(kept == Seq("literal"), plan.toString)
    assert(plan.sameResult(plan), plan.toString)
  }

  test("x % 0 and x / 0 raise Spark's division-by-zero errors, in a projection and a filter") {
    val s = spark.newSession()
    view(s)
    Seq("SELECT l % 0 FROM pt" -> "REMAINDER_BY_ZERO",
        "SELECT l / 0 FROM pt" -> "DIVIDE_BY_ZERO",
        "SELECT i FROM pt WHERE l % 0 = 1" -> "REMAINDER_BY_ZERO",
        "SELECT i FROM pt WHERE l / 0 > 1" -> "DIVIDE_BY_ZERO")
      .foreach { case (stmt, error) =>
        val e = intercept[Exception](Engine.sql(s, stmt).collect())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists { c =>
          val m = String.valueOf(c.getMessage)
          m.contains(s"[$error]") && m.contains("SQLSTATE: 22012")
        }, s"$stmt raised $e")
      }
  }

  test("EXPLAIN and PushedFilters show the literal values") {
    val s = spark.newSession()
    view(s)
    val df = Engine.sql(s, "SELECT l * 7 AS v FROM pt WHERE i > 42 AND l * 3 < 1234")
    df.collect()
    val plan = df.queryExecution.executedPlan
    val params = plan.collect {
      case f: FilterExec => Seq(f.condition)
      case p: ProjectExec => p.projectList
    }.flatten.flatMap(_.collect { case p: ParamLiteral => p.value })
    assert(params.toSet == Set(42, 3L, 1234L, 7L), plan.toString)
    val text = Engine.explain(df)
    assert(text.contains("PushedFilters: [IsNotNull(i), IsNotNull(l), GreaterThan(i,42)]"),
      text)
    assert(text.contains("(i#") && text.contains(" > 42)"), text)
    assert(text.contains("* 3) < 1234)") && text.contains("* 7) AS v#"), text)
    assert(!text.contains("ParamLiteral"), text)
    val sqlExplain = Engine.sql(s,
      "EXPLAIN SELECT l FROM pt WHERE i > 42").collect().head.getString(0)
    assert(sqlExplain.contains("> 42)") && sqlExplain.contains("GreaterThan(i,42)"),
      sqlExplain)
  }

  test("string and decimal literals already reach generated code as references") {
    val s = spark.newSession()
    view(s)
    compiles(Engine.sql(s, "SELECT i FROM pt WHERE CAST(l AS STRING) = '7'" +
      " OR CAST(d AS DECIMAL(10, 2)) = 1.50").collect())
    assert(compiles(Engine.sql(s, "SELECT i FROM pt WHERE CAST(l AS STRING) = '8'" +
      " OR CAST(d AS DECIMAL(10, 2)) = 2.50").collect()) == 0)
  }
}
