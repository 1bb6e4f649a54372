package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Pins the ADVICE-r9 fix in `Tables.views`: registration must self-heal
  * a testdata view name clobbered by the engine's user-facing import
  * paths (`Catalog.registerFile` derives view names from user file paths,
  * so an imported `lineitem.parquet` would otherwise shadow the testdata
  * view for every later SQL-routed declared query — silently wrong data,
  * green plans). */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("views() re-points a clobbered testdata view at the right data") {
    import spark.implicits._
    Tables.views(spark, dir)
    val trueCount = spark.table("lineitem").count()
    // a user import clobbers the shared view name with a 1-row frame
    Seq((1L, "clobbered")).toDF("l_orderkey", "junk")
      .createOrReplaceTempView("lineitem")
    assert(spark.table("lineitem").count() == 1L)
    // the next views() call must heal it, not skip as already-registered
    Tables.views(spark, dir)
    assert(spark.table("lineitem").count() == trueCount,
      "views() must re-register clobbered testdata views every call")
  }

  test("views() leaves an unclobbered session's view objects in place") {
    val catalog = spark.sessionState.catalog
    Tables.views(spark, dir)
    val before = Tables.tableNames.map(n => catalog.getRawTempView(n).get)
    Tables.views(spark, dir)
    Tables.tableNames.zip(before).foreach { case (n, view) =>
      assert(catalog.getRawTempView(n).get eq view,
        s"views() re-registered the untouched view $n")
    }
  }
}
