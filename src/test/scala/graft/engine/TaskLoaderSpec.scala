package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** A first-time statement compiles each distinct generated source once,
  * on whichever engine path it runs: the driver's validation compile and
  * the task's compile share one codegen cache key, because both run under
  * the local executor's task loader (`TaskLoader`). Without it the driver
  * compiled a new whole-stage class under the caller's loader and the
  * first task compiled it again under its own.
  *
  * Each check first runs a statement with the same output schema and
  * another filter shape, so the only source left to compile is the new
  * filter's whole-stage class. The shapes are unique to this spec: bit i
  * of `k` puts a `+` or a `-` after the i-th term. */
class TaskLoaderSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def filter(k: Int): String = {
    val x = (0 until 10).map(i => if ((k >> i & 1) == 1) " + id" else " - id")
      .mkString("id * 127", "", "")
    s"SELECT id FROM task_loader_ids WHERE ($x) % 5 = 1"
  }

  private lazy val ids =
    spark.range(0, 1000, 1, 2).createOrReplaceTempView("task_loader_ids")

  private def writer(write: (DataFrame, String) => Unit): String => Unit = { stmt =>
    val dir = java.nio.file.Files.createTempDirectory("task-loader")
    write(Engine.sql(spark, stmt), dir.resolve("out").toString)
  }

  /** Every engine path that runs a statement's plan. */
  private val paths: Seq[(String, String => Unit)] = Seq(
    "Render.tableToRows" -> (stmt => Render.tableToRows(Engine.sql(spark, stmt))),
    "Engine.stream" -> (stmt => Engine.stream(Engine.sql(spark, stmt)).foreach(_ => ())),
    "Export.toCsvParts" -> (stmt => Export.toCsvParts(Engine.sql(spark, stmt))),
    "Export.writeCsv" -> writer(Export.writeCsv),
    "Export.writeJson" -> writer(Export.writeJson),
    "Export.writeParquet" -> writer(Export.writeParquet),
    "Export.writeOrc" -> writer(Export.writeOrc))

  paths.zipWithIndex.foreach { case ((name, run), n) =>
    test(s"$name compiles a first-time whole-stage filter once") {
      ids
      run(filter(2 * n))
      val fresh = compiles(run(filter(2 * n + 1)))
      assert(fresh == 1, s"the new filter compiled $fresh classes")
    }
  }

  test("the caller's context loader is restored after the statement") {
    val thread = Thread.currentThread
    val mine = new java.net.URLClassLoader(Array.empty, thread.getContextClassLoader)
    thread.setContextClassLoader(mine)
    try {
      var inside: ClassLoader = null
      TaskLoader.within(spark) { inside = thread.getContextClassLoader }
      assert(inside ne mine, "the task loader was not set")
      assert(thread.getContextClassLoader eq mine)
      intercept[IllegalStateException](TaskLoader.within(spark)(
        throw new IllegalStateException("boom")))
      assert(thread.getContextClassLoader eq mine)
    } finally thread.setContextClassLoader(mine.getParent)
  }
}
