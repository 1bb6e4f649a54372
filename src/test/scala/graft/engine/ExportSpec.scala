package graft.engine

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** A15 RFC-4180 escaping + A16 streaming export
  * (/root/reference/src/arrow.ts:17-26,47-88). */
class ExportSpec extends AnyFunSuite {

  test("A15: quoting only when needed; internal quotes doubled") {
    assert(Export.csvEscape("plain") == "plain")
    assert(Export.csvEscape("a,b") == "\"a,b\"")
    assert(Export.csvEscape("say \"hi\"") == "\"say \"\"hi\"\"\"")
    assert(Export.csvEscape("line\nbreak") == "\"line\nbreak\"")
    assert(Export.csvLine(Seq("a", "b,c")) == "a,\"b,c\"\r\n")
  }

  // Minimal RFC-4180 parser for the round-trip check.
  private def parseCsv(s: String): Seq[Seq[String]] = {
    val rows = Seq.newBuilder[Seq[String]]
    val row = Seq.newBuilder[String]
    val cell = new StringBuilder
    var inQ = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < s.length && s.charAt(i + 1) == '"') {
          cell.append('"'); i += 1
        } else if (c == '"') inQ = false
        else cell.append(c)
      } else c match {
        case '"' => inQ = true
        case ',' => row += cell.result(); cell.clear()
        case '\r' if i + 1 < s.length && s.charAt(i + 1) == '\n' =>
          row += cell.result(); cell.clear()
          rows += row.result(); row.clear()
          i += 1
        case other => cell.append(other)
      }
      i += 1
    }
    rows.result()
  }

  test("A15 property: escape/parse round-trips arbitrary cells") {
    val rnd = new scala.util.Random(42)
    val alphabet = "ab,\"\n\r x"
    (1 to 200).foreach { _ =>
      val cells = Seq.fill(rnd.nextInt(4) + 1)(
        Seq.fill(rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.length)))
          .mkString)
      assert(parseCsv(Export.csvLine(cells)) == Seq(cells))
    }
  }

  test("A16: streaming export — header, formatting, flush parts, totals") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, "a,b"), (2L, null: String), (3L, "it\"s"))
      .toDF("id", "s").orderBy("id")
    val out = Export.toCsvParts(df)
    assert(out.rows == 3 && out.columns == 2)
    assert(out.parts.mkString ==
      "id,s\r\n1,\"a,b\"\r\n2,\r\n3,\"it\"\"s\"\r\n")

    // tiny flushChars forces multiple parts; content must be unchanged
    val parts = Export.toCsvParts(df, flushChars = 8).parts
    assert(parts.size > 1)
    assert(parts.mkString == out.parts.mkString)

    // headerless export of an empty result: zero parts, zero rows
    val empty = Export.toCsvParts(df.filter($"id" < 0), header = false)
    assert(empty.rows == 0 && empty.parts.isEmpty)
  }

  /** The driver loop `toCsvParts` replaced: every row collected and
    * formatted on the driver, the lines packed greedily into parts. */
  private def driverLoop(
      df: DataFrame, header: Boolean = true,
      flushChars: Int = Export.FlushChars): Export.CsvExport = {
    val parts = Seq.newBuilder[String]
    val buffer = new StringBuilder
    if (header) buffer.append(Export.csvLine(df.columns.toSeq))
    val rows = df.collect()
    rows.foreach { row =>
      buffer.append(Export.csvLine(row.toSeq.map(Render.formatCell)))
      if (buffer.length >= flushChars) {
        parts += buffer.result()
        buffer.clear()
      }
    }
    if (buffer.nonEmpty) parts += buffer.result()
    Export.CsvExport(parts.result(), rows.length.toLong, df.columns.length)
  }

  /** `toCsvParts` equals the driver loop for default and tiny parts, with
    * and without a header; returns the default export. */
  private def agrees(df: DataFrame): Export.CsvExport = {
    val out = Export.toCsvParts(df)
    assert(out == driverLoop(df))
    assert(Export.toCsvParts(df, flushChars = 8) == driverLoop(df, flushChars = 8))
    assert(Export.toCsvParts(df, header = false) == driverLoop(df, header = false))
    out
  }

  private lazy val spark = graft.TestSpark.spark

  test("A16 one job: 8 partitions, some of them empty") {
    val df = spark.range(0, 1000, 1, 8).filter("id < 100 OR id >= 900")
      .selectExpr("id", "id * 0.5D AS h", "concat('r', id) AS s")
    assert(df.rdd.getNumPartitions == 8)
    val out = agrees(df)
    assert(out.rows == 200 && out.columns == 3)
    assert(out.parts.mkString.startsWith("id,h,s\r\n0,0,r0\r\n1,0.5,r1\r\n"))
  }

  test("A16 one job: ORDER BY over 8 partitions keeps the sort order") {
    val df = spark.range(0, 1000, 1, 8).selectExpr("id", "1000 - id AS r")
      .orderBy("r")
    val out = agrees(df)
    assert(out.parts.mkString.startsWith("id,r\r\n999,1\r\n998,2\r\n"))
  }

  test("A16 one job: a root LIMIT, ordered and not") {
    val ordered = spark.sql(
      "SELECT id FROM range(0, 1000, 1, 8) ORDER BY id DESC LIMIT 50")
    assert(agrees(ordered).rows == 50)
    assert(agrees(spark.range(0, 1000, 1, 8).toDF("id").limit(30)).rows == 30)
  }

  test("A16 one job: null, quoted, temporal and nested cells") {
    val df = spark.sql(
      """SELECT id,
        |  CASE WHEN id % 3 = 0 THEN NULL ELSE concat('a,"b"', id) END AS s,
        |  concat('line', chr(10), id) AS nl,
        |  timestamp'2024-01-02 03:04:05.678' + make_interval(0, 0, 0, id) AS ts,
        |  date_add(date'2024-02-28', CAST(id AS INT)) AS d,
        |  array(id, id + 1) AS arr,
        |  map('k', concat('v,', id)) AS m,
        |  named_struct('a', id, 'b', CAST(id AS STRING)) AS st
        |FROM range(0, 60, 1, 8)""".stripMargin)
    val out = agrees(df)
    val lines = out.parts.mkString.split("\r\n")
    assert(lines(2) == "1,\"a,\"\"b\"\"1\",\"line\n1\",2024-01-03T03:04:05.678Z," +
      "2024-02-29T00:00:00.000Z,\"[1,2]\",\"{\"\"k\"\":\"\"v,1\"\"}\"," +
      "\"{\"\"a\"\":1,\"\"b\"\":\"\"1\"\"}\"")
    assert(lines(1).startsWith("0,,"))
  }

  test("A16 one job: doubles, incl. NaN, -0.0 and values past 2^53") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1, CAST('NaN' AS DOUBLE)), (2, -0.0D), (3, 7.0561898669166285e18D),
        |  (4, 1e23D), (5, 0.1D), (6, 4.9e-324D), (7, CAST(0.1 AS FLOAT)),
        |  (8, CAST('-Infinity' AS DOUBLE)), (9, 1.5e-7D), (10, NULL)
        |  AS t(id, v)""".stripMargin).repartition(8)
    val out = agrees(df)
    val cells = out.parts.mkString.split("\r\n").drop(1)
      .map(_.split(",", -1)).map(a => a(0).toInt -> a(1)).toMap
    assert(cells == Map(1 -> "NaN", 2 -> "0", 3 -> "7056189866916628000",
      4 -> "1e+23", 5 -> "0.1", 6 -> "5e-324", 7 -> "0.10000000149011612",
      8 -> "-Infinity", 9 -> "1.5e-7", 10 -> ""))
  }

  test("A16 one job: an empty result") {
    val df = spark.range(0, 100, 1, 8).toDF("id").filter("id < 0")
    val out = agrees(df)
    assert(out.rows == 0 && out.parts == Seq("id\r\n"))
    assert(Export.toCsvParts(df, header = false).parts.isEmpty)
  }

  test("A16 one job: an unordered 8-partition export fires exactly 1 job") {
    val df = spark.range(0, 1000, 1, 8).selectExpr("id", "id * 1.5D AS v")
    assert(df.rdd.getNumPartitions == 8)
    var out: Export.CsvExport = null
    val jobs = graft.TestSpark.jobsFiredBy { out = Export.toCsvParts(df) }
    assert(jobs == 1, s"toCsvParts fired $jobs jobs")
    assert(out.rows == 1000)
  }

  test("A16 at scale: distributed writeCsv round-trips through the catalog") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, "a,b"), (2L, "say \"hi\""), (3L, "plain"))
      .toDF("id", "s")
    val dir = java.nio.file.Files.createTempDirectory("csvout")
      .resolve("out.csv")
    Export.writeCsv(df, dir.toString)
    val back = Catalog.read(spark, dir) // same RFC-4180 reader options
    // inferSchema narrows small ids to INT — compare through strings
    assert(back.orderBy("id").collect()
      .map(r => (r.get(0).toString, r.getString(1))).toSeq ==
      Seq(("1", "a,b"), ("2", "say \"hi\""), ("3", "plain")))
  }

  test("writeJson / writeParquet / writeOrc round-trip (COPY TO analogs)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, "a\"b"), (2L, "x")).toDF("id", "s")
    val base = java.nio.file.Files.createTempDirectory("expout")
    Export.writeJson(df, base.resolve("out.ndjson").toString)
    Export.writeParquet(df, base.resolve("out.parquet").toString)
    Export.writeOrc(df, base.resolve("out.orc").toString)
    val j = Catalog.read(spark, base.resolve("out.ndjson"))
    val p = Catalog.read(spark, base.resolve("out.parquet"))
    val o = Catalog.read(spark, base.resolve("out.orc"))
    for (back <- Seq(j, p, o))
      assert(back.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a\"b"), (2L, "x")))
  }
}
