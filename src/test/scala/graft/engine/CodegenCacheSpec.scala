package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** A generated class compiles once per JVM, whichever session asks for it.
  * Spark's codegen cache is keyed on (classloader, source); `Session`
  * turns session artifact isolation off, so every `newSession()` shares
  * the context's executor classloader, and sizes the cache above a run's
  * working set, so a class is still cached after many others.
  *
  * The cache is sized once per JVM, when the first class is compiled, from
  * the conf of the session compiling it. This spec holds whichever suite
  * runs first because every session in the test JVM comes from
  * `Session.builder` (through `graft.TestSpark`), whose conf carries the
  * size, and no suite compiles a class outside such a session. A class
  * compiled by another suite before this one is merely older than the
  * ones compiled here, so it cannot crowd them out of the LRU. */
class CodegenCacheSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  /** Classes compiled (cache misses) while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** A whole-stage-codegen aggregate over two partitions, so tasks run on
    * the executor side as well as the driver's validation compile; `k`
    * is inlined into the generated source, one class per value. */
  private def tiny(s: SparkSession, k: Int): Unit =
    s.range(0, 1000, 1, 2).selectExpr(s"id * 7919 + $k AS x")
      .where("x % 13 = 5").groupBy().sum("x").collect()

  test("a fresh session compiles nothing an earlier session compiled") {
    val first = compiles(tiny(spark.newSession(), -1))
    assert(first > 0, "the statement compiled no class")
    assert(compiles(tiny(spark.newSession(), -1)) == 0)
  }

  test("a class stays cached after 150 other distinct classes") {
    val s = spark.newSession()
    assert(compiles(tiny(s, -2)) > 0, "the statement compiled no class")
    val others = compiles((1 to 150).foreach(tiny(s, _)))
    assert(others >= 150, s"only $others classes compiled in between")
    assert(compiles(tiny(s, -2)) == 0)
  }
}
