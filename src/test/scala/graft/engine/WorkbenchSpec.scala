package graft.engine

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Capstone integration test: the reference's full user journey driven
  * through the library end to end — import a mixed folder, build the union
  * view, run the statement at the cursor from a multi-statement script,
  * page/render the result, search and sort the page, export to CSV. Each
  * step is the operator verified individually by its own spec; this proves
  * they COMPOSE the way the app composes them
  * (`/root/reference/src/App.tsx`: import 329-354, view 316-327, run
  * 424-446, page 435-502, export 504-531). */
class WorkbenchSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("import → union view → script → page → search/sort → export") {
    import spark.implicits._
    // a folder with two parquet FILES (differing columns → mergeSchema),
    // a csv, and an ndjson — every supported format. The reference imports
    // plain files, so flatten Spark's directory-shaped output to one file.
    import scala.jdk.CollectionConverters._
    def writeParquetFile(df: org.apache.spark.sql.DataFrame,
        target: java.nio.file.Path): Unit = {
      val tmp = Files.createTempDirectory("pqfile")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, target)
    }
    val root = Files.createTempDirectory("workbench")
    writeParquetFile(Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name"),
      root.resolve("part1.parquet"))
    writeParquetFile(Seq((3L, "gamma", 9.5)).toDF("id", "name", "score"),
      root.resolve("part2.parquet"))
    Files.write(root.resolve("dim.csv"),
      "code,label\n7,\"with,comma\"\n".getBytes)
    Files.write(root.resolve("tags.ndjson"),
      "{\"tag\":\"x\"}\n{\"tag\":\"y\"}\n".getBytes)

    // A2+A4+A9: import with union view
    val (files, views) = Catalog.importFolder(spark, root, Some("all_rows"))
    assert(files.map(_.path).toSet ==
      Set("part1.parquet", "part2.parquet", "dim.csv", "tags.ndjson"))
    assert(views.size == 4)

    // A12+A6: run the statement under the cursor from a script
    val script =
      """CREATE OR REPLACE TEMPORARY VIEW big AS
        |  SELECT id, name, score FROM all_rows;
        |SELECT id, name, score FROM big ORDER BY id""".stripMargin
    Engine.runScript(spark, script.split(";")(0) + ";") // DDL first
    val stmt = Sql.statementAtPosition(script, script.length - 1)
    val df = Engine.sql(spark, stmt)

    // A13/A14/A19: page + info line
    val page = Render.tableToRows(df, limit = 2)
    assert(page.totalRows == 3 && page.shown == 2)
    assert(page.rows.head == Seq("1", "alpha", "")) // null score → ""
    assert(Render.infoLine(page).contains("3"))

    // A17/A18: search then sort on the full page
    val full = Render.tableToRows(df, limit = 200)
    val hits = Page.searchRows(full, "GAMMA") // case-insensitive
    assert(hits.rows.map(_.head) == Seq("3"))
    val byNameDesc = Page.sortRows(full, col = 1, ascending = false)
    assert(byNameDesc.rows.map(_(1)) == Seq("gamma", "beta", "alpha"))

    // A15/A16: streaming CSV export of the result
    val csv = Export.toCsvParts(df)
    assert(csv.rows == 3 && csv.columns == 3)
    assert(csv.parts.mkString.startsWith("id,name,score\r\n"))

    // B3: the reference's default-SQL shape — query a file by quoted path
    // (the csv imported above, addressed by absolute path)
    val byPath = Engine.sql(spark,
      s"SELECT label FROM '${root.resolve("dim.csv")}' WHERE code = 7")
    assert(byPath.collect()(0).getString(0) == "with,comma")
  }

  test("DuckDB-dialect journey: the routed statements compose end to end") {
    // the statements a migrating DuckDB user types, in one flow: a
    // FROM-first exploration, DISTINCT ON, QUALIFY, a dialect-function
    // projection, COPY TO a file, COPY the file back into a replaced
    // table, and PRAGMA introspection at the end — all through the
    // single Engine.sql delegation point
    val t = s"wb_duck_p${ProcessHandle.current.pid}"
    val dir = Files.createTempDirectory("wbduck").toString
    try {
      Engine.exec(spark,
        "CREATE OR REPLACE TEMPORARY VIEW wb_events AS SELECT * FROM " +
          "VALUES (1, 'a', 10.0D), (1, 'b', 30.0D), (2, 'a', 20.0D), " +
          "(2, 'c', 5.0D) v(uid, kind, amount)")
      // FROM-first with trailing clauses
      assert(Engine.sql(spark,
        "FROM wb_events WHERE amount > 6 ORDER BY amount LIMIT 2")
        .count() == 2)
      // DISTINCT ON: each user's largest amount
      val don = Engine.sql(spark,
        "SELECT DISTINCT ON (uid) uid, kind, amount FROM wb_events " +
          "ORDER BY uid, amount DESC").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(don == Seq((1, "b"), (2, "a")))
      // QUALIFY over a window, dialect functions in the projection
      val q = Engine.sql(spark,
        "SELECT uid, list_position(string_split('a b c', ' '), kind) " +
          "AS kpos FROM wb_events " +
          "QUALIFY row_number() OVER (PARTITION BY uid ORDER BY amount) = 1 " +
          "ORDER BY uid").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      assert(q == Seq((1, 1L), (2, 3L)))
      // COPY TO a csv, CREATE OR REPLACE a table, COPY the file back in
      Engine.sql(spark,
        s"COPY (FROM wb_events WHERE uid = 1) TO '$dir/u1.csv'" +
          " (FORMAT csv, HEADER)")
      Engine.exec(spark,
        s"CREATE OR REPLACE TABLE $t (uid INT, kind STRING, amount DOUBLE)")
      Engine.sql(spark, s"COPY $t FROM '$dir/u1.csv' (FORMAT csv, HEADER)")
      assert(spark.table(t).count() == 2)
      // introspection one-liners close the loop
      assert(Engine.sql(spark, s"PRAGMA table_info('$t')").count() == 3)
      assert(Engine.sql(spark, "PRAGMA show_tables").collect()
        .map(_.getString(0)).contains("wb_events"))
      // round-17 surface, continuing the same flow: an upsert typed as
      // INSERT ... ON CONFLICT against the imported table, collection
      // literals + compat functions in the probe, a transaction
      // bracket, and a read_parquet round trip through COPY
      Engine.runScript(spark,
        s"""BEGIN TRANSACTION;
           |INSERT INTO $t VALUES (1, 'a', 99.0), (9, 'z', 1.0)
           |  ON CONFLICT (uid, kind) DO UPDATE SET amount = EXCLUDED.amount;
           |COMMIT;""".stripMargin)
      val upserted = spark.table(t).collect()
        .map(r => ((r.getInt(0), r.getString(1)), r.getDouble(2))).toMap
      assert(upserted((1, "a")) == 99.0 && upserted((9, "z")) == 1.0)
      assert(upserted.size == 3)
      // list literal + compat fn over the upserted table, QUALIFY in a CTE
      val probe = Engine.sql(spark,
        s"""WITH ranked AS (
           |  SELECT uid, kind, amount FROM $t
           |  QUALIFY row_number() OVER (ORDER BY amount DESC) <= 2)
           |SELECT uid, CAST(list_contains(['a', 'b'], kind) AS INT) AS ab
           |FROM ranked ORDER BY uid""".stripMargin).collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSeq
      // top-2 by amount are (1,'a',99) and (1,'b',30) — both uid 1,
      // both kinds in the literal list
      assert(probe == Seq((1, 1), (1, 1)))
      // COPY to parquet, read back through the read_parquet table fn
      Engine.sql(spark,
        s"COPY $t TO '$dir/t.parquet' (FORMAT parquet)")
      assert(Engine.sql(spark,
        s"SELECT COUNT(*) AS n FROM read_parquet(['$dir/t.parquet'])")
        .collect()(0).getLong(0) == 3L)
      // round-18 surface, continuing the same flow: a MACRO definition
      // used by a PREPAREd statement, RETURNING on an insert, a GLOB
      // filter, UNION BY NAME, a partitioned COPY read back with
      // hive_partitioning, and the DuckDB-shaped SUMMARIZE — one
      // migrating script's worth of routes composing in one session
      Engine.runScript(spark,
        s"""CREATE OR REPLACE MACRO wb_bump(x) AS x * 10;
           |PREPARE wb_q AS SELECT uid, wb_bump(amount) AS amt10
           |  FROM $t WHERE amount > $$1;""".stripMargin)
      val prepared = Engine.sql(spark, "EXECUTE wb_q(20)").collect()
        .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._2).toSeq
      assert(prepared == Seq((1, 300.0), (1, 990.0)))
      val landed = Engine.sql(spark,
        s"INSERT INTO $t VALUES (5, 'glob_me', 7.0)" +
          " RETURNING kind, wb_bump(amount) AS a10").collect()(0)
      assert(landed.getString(0) == "glob_me" && landed.getDouble(1) == 70.0)
      assert(Engine.sql(spark,
        s"SELECT COUNT(*) AS n FROM $t WHERE kind GLOB 'glob*'")
        .collect()(0).getLong(0) == 1L)
      val ubn = Engine.sql(spark,
        s"SELECT uid, kind FROM $t WHERE uid = 5" +
          " UNION ALL BY NAME SELECT 'x' AS kind, 42.0D AS extra")
      assert(ubn.columns.toSeq == Seq("uid", "kind", "extra") &&
        ubn.count() == 2L)
      Engine.sql(spark,
        s"COPY $t TO '$dir/part' (FORMAT parquet, PARTITION_BY (uid))")
      assert(Engine.sql(spark,
        s"SELECT COUNT(DISTINCT uid) AS n FROM read_parquet(" +
          s"'$dir/part/*/*.parquet', hive_partitioning=true)")
        .collect()(0).getLong(0) == 3L)
      val summ = Engine.sql(spark, s"SUMMARIZE $t")
      assert(summ.columns.take(5).toSeq ==
        Seq("column_name", "column_type", "min", "max", "approx_unique"))
      Engine.exec(spark, "DEALLOCATE wb_q")
      Engine.exec(spark, "DROP MACRO wb_bump")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
