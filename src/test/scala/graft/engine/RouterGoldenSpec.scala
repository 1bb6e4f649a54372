package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Golden replay of the dialect router: every captured input to
  * `Engine.rewriteQueryText` must give back, byte for byte, the output
  * text or the refusal it gave when it was captured.
  *
  * Capture (`src/test/resources/golden/router-rewrites.tsv`): commit
  * 824abc2, a scratch copy whose `rewriteQueryText` was wrapped to log
  * each call, nested subquery bodies included, while running
  *   sbt "testOnly *"
  *   sbt "runMain graft.Verify <sf0.01 dir> <out dir> c_sql_"
  * One line per distinct input: `input TAB ok TAB output` or
  * `input TAB err TAB <exception class>: <message>`, with backslash,
  * tab, newline and carriage return escaped as `\\`, `\t`, `\n`, `\r`.
  * Inputs carrying a trigger that reads the session catalog were
  * dropped — a quoted file path, a `read_*(…)` call, `* REPLACE (…)`,
  * `COLUMNS(…)`, `UNION BY NAME`, `PIVOT`/`UNPIVOT` — their outputs
  * depend on the registered relations; EngineSpec and the oracle run
  * cover them. A deliberate change to a shim's output re-captures the
  * file the same way at the new parent. */
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

  private def replay(input: String): String =
    try "ok\t" + Engine.rewriteQueryText(spark, input)
    catch { case e: Exception =>
      s"err\t${e.getClass.getSimpleName}: ${e.getMessage}"
    }

  test("every captured router input rewrites byte-identically") {
    val lines = Files.readAllLines(
      Paths.get("src/test/resources/golden/router-rewrites.tsv"),
      StandardCharsets.UTF_8)
    assert(lines.size > 400)
    lines.forEach { line =>
      val Array(in, kind, out) = line.split("\t", -1)
      val input = unescape(in)
      val expected = kind + "\t" + unescape(out)
      val got = replay(input)
      assert(got == expected,
        s"\n--- input:\n$input\n--- captured:\n$expected\n--- now:\n$got\n")
    }
  }
}
