package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Golden replay of the dialect router: every captured input to
  * `Engine.rewriteQueryText` must give back, byte for byte, the output
  * text or the refusal it gave when it was captured.
  *
  * Both files hold one line per input, with backslash, tab, newline and
  * carriage return escaped as `\\`, `\t`, `\n`, `\r`.
  *
  * `src/test/resources/golden/router-rewrites.tsv`: commit 824abc2, a
  * throwaway checkout whose `rewriteQueryText` was wrapped to log each call,
  * nested subquery bodies included, while running
  *   sbt "testOnly *"
  *   sbt "runMain graft.Verify <sf0.01 dir> <out dir> c_sql_"
  * One line per distinct input: `input TAB ok TAB output` or
  * `input TAB err TAB <exception class>: <message>`. Inputs carrying a
  * trigger that reads the session catalog were dropped — a quoted file
  * path, a `read_*(…)` call, `* REPLACE (…)`, `COLUMNS(…)`, `UNION BY
  * NAME`, `PIVOT`/`UNPIVOT` — their outputs depend on the registered
  * relations; the second file covers them.
  *
  * `src/test/resources/golden/router-catalog.tsv`: an ordered script of
  * exactly those catalog-reading inputs, over repo-relative paths — the
  * `minifix` fixtures and two parquet fixtures `writeFixtures` puts under
  * `target/router-golden/` (`x-y` and `x_y`, whose view names collide
  * when sanitized). Lines run in order in one fresh `newSession()`:
  * `rewrite TAB input TAB …` replays `rewriteQueryText`; `sql TAB input
  * TAB …` runs `Engine.sql` and records the result's column names (the
  * script's user CREATE VIEWs take over auto-registered names, and later
  * lines show the re-claimed names). Capture: commit f9dfb7f, a throwaway
  * checkout with a temporary suite that wrote the fixtures as
  * `writeFixtures` does, then wrote `mode TAB input TAB run(mode, input)`
  * for each hand-written script line, in order, in one `newSession()`;
  * run from the repo root with
  *   sbt "testOnly <that suite>"
  *
  * A deliberate change to a shim's output re-captures the file the same
  * way at the new parent. */
class RouterGoldenSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\') {
        b.append(s.charAt(i + 1) match {
          case 'n' => '\n'
          case 't' => '\t'
          case 'r' => '\r'
          case c => c
        })
        i += 2
      } else { b.append(s.charAt(i)); i += 1 }
    }
    b.toString
  }

  private def run(s: SparkSession, mode: String, input: String): String =
    try mode match {
      case "rewrite" => "ok\t" + Engine.rewriteQueryText(s, input)
      case "sql" => "ok\t" + Engine.sql(s, input).columns.mkString(",")
    } catch { case e: Exception =>
      s"err\t${e.getClass.getSimpleName}: ${e.getMessage}"
    }

  private def golden(name: String): java.util.List[String] =
    Files.readAllLines(
      Paths.get(s"src/test/resources/golden/$name"), StandardCharsets.UTF_8)

  /** The two parquet fixtures the catalog script reads. */
  private def writeFixtures(): Unit = {
    spark.sql("SELECT * FROM VALUES (1, 'a', 10), (2, 'b', 20) AS t(k, v, g)")
      .coalesce(1).write.mode("overwrite")
      .parquet("target/router-golden/x-y.parquet")
    spark.sql("SELECT * FROM VALUES (1, 1.5D), (3, 2.5D) AS t(k, w)")
      .coalesce(1).write.mode("overwrite")
      .parquet("target/router-golden/x_y.parquet")
  }

  test("every captured router input rewrites byte-identically") {
    val lines = golden("router-rewrites.tsv")
    assert(lines.size > 400)
    lines.forEach { line =>
      val Array(in, kind, out) = line.split("\t", -1)
      val input = unescape(in)
      val expected = kind + "\t" + unescape(out)
      val got = run(spark, "rewrite", input)
      assert(got == expected,
        s"\n--- input:\n$input\n--- captured:\n$expected\n--- now:\n$got\n")
    }
  }

  test("the catalog-reading script replays byte-identically in a fresh session") {
    writeFixtures()
    val fresh = spark.newSession()
    val lines = golden("router-catalog.tsv")
    assert(lines.size > 40)
    lines.forEach { line =>
      val Array(mode, in, kind, out) = line.split("\t", -1)
      val input = unescape(in)
      val expected = kind + "\t" + unescape(out)
      val got = run(fresh, mode, input)
      assert(got == expected,
        s"\n--- $mode:\n$input\n--- captured:\n$expected\n--- now:\n$got\n")
    }
  }
}
