package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** A6/A7/A8 + B30: the SQL execution surface
  * (/root/reference/src/duckdb.ts:46-59 analog). */
class EngineSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("A6: sql returns a lazy DataFrame for a single statement") {
    val df = Engine.sql(spark, "SELECT 41 + 1 AS v")
    assert(df.collect()(0).getInt(0) == 42)
  }

  test("A7: exec runs DDL eagerly; the view is immediately queryable") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_v AS SELECT 7 AS x")
    assert(spark.table("engine_spec_v").collect()(0).getInt(0) == 7)
  }

  test("A8: stream iterates rows without materializing the full result") {
    val it = Engine.stream(spark.range(1000).toDF("id"))
    assert(it.take(3).map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("B30: runScript executes statements in order, returns the last") {
    val out = Engine.runScript(spark,
      """CREATE OR REPLACE TEMPORARY VIEW engine_spec_s AS SELECT 5 AS x;
        |SELECT x * 2 AS y FROM engine_spec_s;""".stripMargin)
    assert(out.get.collect()(0).getInt(0) == 10)
    // whitespace-only statements are dropped; nothing runs
    assert(Engine.runScript(spark, "  ; ;  ").isEmpty)
  }

  test("EXPLAIN surface renders a physical plan") {
    val txt = Engine.explain(Engine.sql(spark, "SELECT 1 AS one"))
    assert(txt.contains("== Physical Plan =="))
  }

  test("B3: quoted csv path in FROM position queries like the reference") {
    // the reference's default SQL shape: SELECT * FROM 'file.csv' LIMIT n
    val dir = java.nio.file.Files.createTempDirectory("engine_spec_csv")
    val f = dir.resolve("cities.csv")
    java.nio.file.Files.writeString(f, "city,pop\nlisbon,500000\nporto,250000\n")
    val df = Engine.sql(spark, s"SELECT * FROM '$f' ORDER BY pop DESC LIMIT 1")
    val row = df.collect()(0)
    assert(row.getString(0) == "lisbon" && row.getInt(1) == 500000)
    // registered once: second reference hits the same view, and string
    // literals NOT in FROM/JOIN position are untouched
    val df2 = Engine.sql(spark,
      s"SELECT pop FROM '$f' WHERE city = 'porto'")
    assert(df2.collect()(0).getInt(0) == 250000)
  }

  test("B3: a bare quoted glob reads like read_parquet over the pattern") {
    val dir = java.nio.file.Files.createTempDirectory("engine_spec_glob")
    import spark.implicits._
    (1 to 3).foreach { i =>
      Seq.tabulate(i)(j => (i * 10L + j, s"p$i")).toDF("id", "part")
        .coalesce(1).write.parquet(s"$dir/part$i.parquet")
    }
    // DuckDB's daily idiom: FROM '<dir>/*.parquet' with no table function
    val bare = Engine.sql(spark, s"SELECT COUNT(*) AS n FROM '$dir/*.parquet'")
    val fn = Engine.sql(spark,
      s"SELECT COUNT(*) AS n FROM read_parquet('$dir/*.parquet')")
    assert(bare.collect()(0).getLong(0) == 6L)
    assert(bare.collect()(0).getLong(0) == fn.collect()(0).getLong(0))
    // and as a join operand, next to the table-function form
    val joined = Engine.sql(spark,
      s"""SELECT COUNT(*) FROM '$dir/*.parquet' a
         |JOIN read_parquet('$dir/*.parquet') b ON a.id = b.id""".stripMargin)
    assert(joined.collect()(0).getLong(0) == 6L)
  }

  test("B3: FROM inside TRIM/EXTRACT is an operand, not a table position") {
    val dir = java.nio.file.Files.createTempDirectory("engine_spec_trim")
    val f = dir.resolve("ops.csv")
    java.nio.file.Files.writeString(f, "a\n1\n")
    // TRIM's FROM-operand is a real existing path — it must stay a string,
    // not get rewritten to a table reference
    val v = Engine.sql(spark, s"SELECT trim(BOTH '/' FROM '$f') AS v")
      .collect()(0).getString(0)
    assert(v == f.toString.dropWhile(_ == '/'))
    // and path literals inside comments are ignored by the rewrite
    val c = Engine.sql(spark, s"SELECT 7 AS x -- FROM '$f'\n")
      .collect()(0).getInt(0)
    assert(c == 7)
    // a literal select-list does NOT suppress a real path table, and the
    // path works from inside a subquery
    val s1 = Engine.sql(spark, s"SELECT 'k' AS k FROM '$f'").collect()
    assert(s1.length == 1 && s1(0).getString(0) == "k")
    val s2 = Engine.sql(spark,
      s"SELECT n FROM (SELECT COUNT(*) AS n FROM '$f')").collect()
    assert(s2(0).getLong(0) == 1L)
  }

  test("B3: missing path table yields a targeted hint, not a stack trace") {
    val out = Engine.tryQuery(spark, "SELECT * FROM '/no/such/dir/x.csv'")
    assert(out.isLeft &&
      out.swap.exists(_.contains("no such file for path table")))
  }

  test("describe returns schema rows without running a job") {
    val df = Engine.sql(spark,
      "SELECT CAST(1 AS BIGINT) AS id, 'x' AS name, CAST(1.5 AS DOUBLE) AS v")
    // DuckDB's exact DESCRIBE columns (r18 shape parity)
    assert(Engine.describe(df).columns.toSeq == Seq("column_name",
      "column_type", "null", "key", "default", "extra"))
    val rows = Engine.describe(df).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.map(_._1).toSeq == Seq("id", "name", "v"))
    assert(rows(0)._2 == "BIGINT" && rows(2)._2 == "DOUBLE")
    // metadata-only: works on a frame whose evaluation would throw
    val poisoned = Engine.sql(spark,
      "SELECT CAST(assert_true(false) AS STRING) AS boom")
    assert(Engine.describe(poisoned).collect().length == 1)
  }

  test("summarize profiles every column in one pass, DuckDB's shape") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", Some(10.0)), (2L, "b", Some(20.0)),
      (3L, "a", None), (4L, "c", Some(40.0)))
      .toDF("id", "tag", "score")
    val res = Engine.summarize(df)
    // a migrating user's tooling reads DuckDB's EXACT column names and
    // order (r18 parity) — pin the whole shape
    assert(res.columns.toSeq == Seq("column_name", "column_type", "min",
      "max", "approx_unique", "avg", "std", "q25", "q50", "q75",
      "count", "null_percentage"))
    val out = res.collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("id", "tag", "score"))
    val id = out("id")
    assert(id.getLong(10) == 4L && id.getLong(4) == 4L) // count, distinct
    assert(id.getString(2) == "1" && id.getString(3) == "4") // min, max
    assert(id.getString(5) == "2.5") // avg via the A14 formatter
    assert(id.getString(6) != null && id.getString(8) != null) // std, q50
    val tag = out("tag")
    assert(tag.getLong(4) == 3L && tag.getString(5) == null) // no avg
    assert(tag.getString(6) == null && tag.getString(7) == null)
    val score = out("score")
    assert(score.getLong(10) == 3L) // one null
    assert(math.abs(score.getDouble(11) - 25.0) < 1e-9) // null PERCENT
    assert(score.getString(2) == "10" && score.getString(3) == "40")
    assert(score.getString(8) == "20") // q50 of 10/20/40
    // empty frame: zero counts, no divide-by-zero
    val empty = Engine.summarize(df.filter($"id" < 0)).collect()
    assert(empty.forall(r => r.getLong(10) == 0L && r.getDouble(11) == 0.0))
    // a map column is neither orderable nor hashable: count-only profile
    // instead of an AnalysisException for the whole frame
    val withMap = Engine.sql(spark,
      "SELECT 1 AS k, map('a', 1) AS m UNION ALL SELECT 2, map('b', 2)")
    val mRow = Engine.summarize(withMap).collect()
      .map(r => r.getString(0) -> r).toMap.apply("m")
    assert(mRow.getLong(10) == 2L && mRow.isNullAt(4) &&
      mRow.getString(2) == null && mRow.getString(3) == null)
    // duplicate column names (routine after a join) profile positionally
    // instead of throwing on an ambiguous lookup
    val dup = Engine.sql(spark,
      "SELECT 1 AS k, 2 AS k UNION ALL SELECT 3, 4")
    val dupRows = Engine.summarize(dup).collect()
    assert(dupRows.length == 2 &&
      dupRows.forall(_.getString(0) == "k") &&
      dupRows(0).getString(3) == "3" && dupRows(1).getString(3) == "4")
    // a backtick inside a column name survives the positional rename
    val tick = Engine.sql(spark, "SELECT 1 AS `we``ird`")
    val tickRow = Engine.summarize(tick).collect()(0)
    assert(tickRow.getString(0) == "we`ird" && tickRow.getString(3) == "1")
  }

  test("SUMMARIZE / DESCRIBE SELECT route like the DuckDB one-liners") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_sum AS " +
        "SELECT 1 AS a, 'x' AS b UNION ALL SELECT 3, 'y'")
    // SUMMARIZE <table>
    val byTable = Engine.sql(spark, "SUMMARIZE engine_spec_sum;")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(byTable.keySet == Set("a", "b"))
    assert(byTable("a").getString(2) == "1" && byTable("a").getString(3) == "3")
    // SUMMARIZE SELECT ...
    val byQuery = Engine.sql(spark,
      "SUMMARIZE SELECT a * 10 AS a10 FROM engine_spec_sum").collect()
    assert(byQuery.length == 1 && byQuery(0).getString(0) == "a10" &&
      byQuery(0).getString(3) == "30")
    // DESCRIBE SELECT ... (Spark only accepts DESCRIBE QUERY natively)
    val desc = Engine.sql(spark,
      "DESCRIBE SELECT a, b FROM engine_spec_sum").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc.toSeq == Seq(("a", "INT"), ("b", "STRING")))
    // plain DESCRIBE <table> still reaches Spark's native statement
    val nat = Engine.sql(spark, "DESCRIBE engine_spec_sum").collect()
    assert(nat.map(_.getString(0)).toSet.contains("a"))
    // a table whose NAME starts with "select" is a table, not a SELECT
    // statement (the sqlTarget word-boundary rule)
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW selected_docs AS SELECT 7 AS a")
    val selNamed = Engine.sql(spark, "SUMMARIZE selected_docs").collect()
    assert(selNamed.length == 1 && selNamed(0).getString(0) == "a" &&
      selNamed(0).getString(3) == "7")
  }

  test("FROM-first statements route like DuckDB's leading-FROM syntax") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_ff AS " +
        "SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, 'a') v(x, y)")
    // bare FROM <table> is implicit SELECT *
    assert(Engine.sql(spark, "FROM engine_spec_ff").count() == 3)
    // trailing clauses without a SELECT list
    val narrowed = Engine.sql(spark,
      "FROM engine_spec_ff WHERE x > 1 ORDER BY x LIMIT 1").collect()
    assert(narrowed.length == 1 && narrowed(0).getInt(0) == 2)
    // explicit select list with clauses AFTER it (DuckDB accepts WHERE
    // after the list; the rewrite re-inserts FROM before the first
    // trailing clause keyword)
    val grouped = Engine.sql(spark,
      "FROM engine_spec_ff SELECT y, COUNT(*) AS n WHERE x > 1 " +
        "GROUP BY y ORDER BY y").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(grouped == Seq(("a", 1L), ("b", 1L)))
    // a string literal containing ' select ' must not split the list,
    // and parenthesized subqueries are not statement-level FROMs
    val literal = Engine.sql(spark,
      "FROM engine_spec_ff SELECT concat(y, ' select where ') AS z " +
        "WHERE x = 1").collect()
    assert(literal.length == 1 && literal(0).getString(0) == "a select where ")
    // FROM-first over a quoted file path rides the path-table rewrite
    val tmp = java.nio.file.Files.createTempDirectory("ff").toString
    spark.range(4).toDF("id").write.mode("overwrite")
      .parquet(s"$tmp/nums.parquet")
    assert(Engine.sql(spark,
      s"FROM '$tmp/nums.parquet' WHERE id >= 2").count() == 2)
  }

  test("CREATE OR REPLACE TABLE routes as drop-then-create") {
    val t = s"engine_spec_cor_p${ProcessHandle.current.pid}"
    try {
      Engine.exec(spark, s"CREATE OR REPLACE TABLE $t AS SELECT 1 AS x")
      Engine.exec(spark, s"CREATE OR REPLACE TABLE $t AS SELECT 2 AS x")
      val rows = spark.table(t).collect()
      assert(rows.length == 1 && rows(0).getInt(0) == 2,
        "the second REPLACE must win")
      // plain CREATE TABLE on the existing name still refuses (the route
      // must not have turned every CREATE into an implicit replace)
      assertThrows[Exception](
        Engine.exec(spark, s"CREATE TABLE $t AS SELECT 3 AS x"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("DISTINCT ON routes to the row_number window rewrite") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_don AS " +
        "SELECT * FROM VALUES (1, 10, 'a'), (1, 20, 'b'), (2, 5, 'c') " +
        "v(k, v, tag)")
    // ORDER BY picks the survivor per key AND orders the result
    val picked = Engine.sql(spark,
      "SELECT DISTINCT ON (k) k, tag FROM engine_spec_don " +
        "ORDER BY k, v DESC").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(picked == Seq((1, "b"), (2, "c")))
    // star projection must not leak the helper rank column
    val star = Engine.sql(spark,
      "SELECT DISTINCT ON (k) * FROM engine_spec_don ORDER BY k, v")
    assert(star.columns.toSeq == Seq("k", "v", "tag"))
    assert(star.count() == 2)
    // WHERE filters BEFORE the per-key pick (SQL clause order)
    val filtered = Engine.sql(spark,
      "SELECT DISTINCT ON (k) k, v FROM engine_spec_don " +
        "WHERE v < 15 ORDER BY k, v DESC").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(filtered == Seq((1, 10), (2, 5)))
    // unsupported shapes refuse loudly instead of mis-routing
    assertThrows[IllegalArgumentException](
      Engine.sql(spark,
        "SELECT DISTINCT ON (k) k, COUNT(*) FROM engine_spec_don GROUP BY k"))
  }

  test("PIVOT statements route to Spark's PIVOT clause over a discovered domain") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_piv AS " +
        "SELECT * FROM VALUES ('x', 'A', 1), ('x', 'B', 2), ('y', 'A', 3), " +
        "('x', 'A', 4) v(g, k, v)")
    val wide = Engine.sql(spark,
      "PIVOT engine_spec_piv ON k USING SUM(v) GROUP BY g ORDER BY g")
    assert(wide.columns.toSeq == Seq("g", "A", "B"),
      s"expected sorted key columns, got ${wide.columns.toSeq}")
    val rows = wide.collect().map(r =>
      (r.getString(0), r.get(1), r.get(2))).toSeq
    assert(rows == Seq(("x", 5, 2), ("y", 3, null)))
    // COUNT(*) has no operand (the route counts a constant), and the
    // absent (y, B) combination backfills 0 — DuckDB's count-over-
    // nothing — not Spark's native NULL cell
    val counted = Engine.sql(spark,
      "PIVOT engine_spec_piv ON k USING COUNT(*) GROUP BY g ORDER BY g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(counted == Seq(("x", 2L, 1L), ("y", 1L, 0L)))
    // missing GROUP BY groups by everything not in ON/USING — DuckDB's
    // primary documented spelling (here: g) — matching the explicit form
    val implicitRows = Engine.sql(spark,
      "PIVOT engine_spec_piv ON k USING SUM(v) ORDER BY g")
      .collect().map(r => (r.getString(0), r.get(1), r.get(2))).toSeq
    assert(implicitRows == Seq(("x", 5, 2), ("y", 3, null)))
  }

  test("QUALIFY routes to the filtered-subquery rewrite") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_qual AS " +
        "SELECT * FROM VALUES (1, 10), (1, 20), (2, 5), (2, 8) v(k, v)")
    // window function directly in the predicate
    val top1 = Engine.sql(spark,
      "SELECT k, v FROM engine_spec_qual " +
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1 " +
        "ORDER BY k").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(top1 == Seq((1, 20), (2, 8)))
    // predicate referencing a rank ALIAS from the select list (lateral
    // column alias), plus a trailing LIMIT outside the filter
    val aliased = Engine.sql(spark,
      "SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) AS rn " +
        "FROM engine_spec_qual QUALIFY rn <= 1 ORDER BY k LIMIT 1")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(aliased == Seq((1, 10)))
    // a string literal containing ' qualify ' is not a clause
    val literal = Engine.sql(spark,
      "SELECT k, ' qualify me ' AS s FROM engine_spec_qual WHERE k = 2 " +
        "QUALIFY row_number() OVER (ORDER BY v) = 1").collect()
    assert(literal.length == 1)
    // DISTINCT heads dedup OUTSIDE the filter — DuckDB's clause order
    // (window → QUALIFY → DISTINCT): keep the top-2 rows per k, then
    // distinct the k values
    val distinct = Engine.sql(spark,
      "SELECT DISTINCT k FROM engine_spec_qual " +
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v) <= 2 " +
        "ORDER BY k").collect().map(_.getInt(0)).toSeq
    assert(distinct == Seq(1, 2))
    // a CTE body runs the whole shim table before its QUALIFY wraps it:
    // the trailing comma must be gone when the predicate joins the list
    val inCte = Engine.sql(spark,
      "WITH c AS (SELECT k, v, FROM engine_spec_qual " +
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v) = 1) " +
        "SELECT k, v FROM c ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(inCte == Seq((1, 10), (2, 5)))
  }

  test("star EXCLUDE shims to Spark's EXCEPT, anchored to the star") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_excl AS " +
        "SELECT 1 AS a, 2 AS b, 3 AS exclude")
    val cols = Engine.sql(spark,
      "SELECT * EXCLUDE (b) FROM engine_spec_excl").columns.toSeq
    assert(cols == Seq("a", "exclude"))
    // EXCLUDE as a plain identifier (no star anchor) is untouched
    val asCol = Engine.sql(spark,
      "SELECT exclude FROM engine_spec_excl").collect()
    assert(asCol(0).getInt(0) == 3)
    // inside a string literal, untouched
    val lit = Engine.sql(spark,
      "SELECT '* EXCLUDE (b)' AS s FROM engine_spec_excl").collect()
    assert(lit(0).getString(0) == "* EXCLUDE (b)")
    // works in a subquery position too (anchored, not statement-level)
    val sub = Engine.sql(spark,
      "SELECT a FROM (SELECT * EXCLUDE (exclude) FROM engine_spec_excl)")
      .collect()
    assert(sub(0).getInt(0) == 1)
  }

  test("USING SAMPLE shims to TABLESAMPLE") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_smp AS " +
        "SELECT id FROM range(100)")
    // 100% bernoulli keeps everything — deterministic on any engine
    assert(Engine.sql(spark,
      "SELECT COUNT(*) AS n FROM engine_spec_smp USING SAMPLE 100%")
      .collect()(0).getLong(0) == 100L)
    // n ROWS refuses: Spark's TABLESAMPLE (n ROWS) is a deterministic
    // head-LIMIT, and silently serving "first 7 rows" for "sample 7
    // rows" is a bias, not a sample
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      "SELECT * FROM engine_spec_smp USING SAMPLE 7 ROWS"))
    // method name drops; a seed refuses (no way to honor it)
    assert(Engine.sql(spark,
      "SELECT COUNT(*) AS n FROM engine_spec_smp " +
        "USING SAMPLE 100 PERCENT (bernoulli)").collect()(0).getLong(0) == 100L)
    assertThrows[IllegalArgumentException](
      Engine.sql(spark,
        "SELECT * FROM engine_spec_smp USING SAMPLE 10% (bernoulli, 42)"))
    // a join's USING clause is untouched
    val joined = Engine.sql(spark,
      "SELECT a.id FROM engine_spec_smp a JOIN engine_spec_smp b USING (id) " +
        "WHERE a.id < 3")
    assert(joined.count() == 3L)
  }

  test("CREATE OR REPLACE TABLE: a failing CREATE leaves the old table intact") {
    val t = s"engine_spec_cor2_p${ProcessHandle.current.pid}"
    try {
      Engine.exec(spark, s"CREATE OR REPLACE TABLE $t AS SELECT 1 AS x")
      assertThrows[Exception](Engine.exec(spark,
        s"CREATE OR REPLACE TABLE $t AS SELECT no_such_col FROM range(1)"))
      val rows = spark.table(t).collect()
      assert(rows.length == 1 && rows(0).getInt(0) == 1,
        "a typo'd REPLACE must not destroy the existing table")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}__graft_cor_tmp")
    }
  }

  test("star EXCLUDE shim: multiplication by exclude-named columns untouched") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_excl2 AS " +
        "SELECT 2 AS a, 5 AS exclude_fee, 7 AS exclude")
    // `* exclude_fee` and `* exclude` are arithmetic, not the modifier
    val r = Engine.sql(spark,
      "SELECT a * exclude_fee AS x, a * exclude AS y FROM engine_spec_excl2")
      .collect()(0)
    assert((r.getInt(0), r.getInt(1)) == ((10, 14)))
  }

  test("USING SAMPLE row-count forms refuse rather than head-LIMIT") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_smp2 AS " +
        "SELECT id FROM range(50)")
    // DuckDB's bare `USING SAMPLE 10` means 10 ROWS (its default unit):
    // the refusal must name the faithful spelling instead of silently
    // returning the first 10 rows
    val e = intercept[IllegalArgumentException](Engine.sql(spark,
      "SELECT * FROM engine_spec_smp2 USING SAMPLE 10").collect())
    assert(e.getMessage.contains("ORDER BY rand() LIMIT"))
    // and the text is inert inside comments and string literals
    assert(Engine.sql(spark,
      "SELECT COUNT(*) AS n -- USING SAMPLE 10 ROWS\nFROM engine_spec_smp2")
      .collect()(0).getLong(0) == 50L)
    assert(Engine.sql(spark,
      "SELECT 'USING SAMPLE 10 ROWS' AS s").collect()(0)
      .getString(0) == "USING SAMPLE 10 ROWS")
  }

  test("router keyword scanners ignore comments and quoted identifiers") {
    // a QUALIFY inside a trailing comment must not restructure the
    // statement (the comment/quote-aware shared scanner)
    assert(Engine.sql(spark,
      "SELECT 1 AS a -- qualify later\n").collect()(0).getInt(0) == 1)
    assert(Engine.sql(spark,
      "SELECT 2 AS a /* QUALIFY rank() */").collect()(0).getInt(0) == 2)
    // ...nor inside a double-quoted string-style literal or identifier
    assert(Engine.sql(spark,
      "SELECT 3 AS `where qualify`").columns.toSeq == Seq("where qualify"))
    // DISTINCT ON / ASOF in comments stay inert too
    assert(Engine.sql(spark,
      "SELECT 4 AS a /* ASOF JOIN t ON x */").collect()(0).getInt(0) == 4)
  }

  test("DISTINCT ON scrubs the helper from mid-list and qualified stars") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_don2 AS " +
        "SELECT id % 3 AS k, id AS v FROM range(30)")
    // `*, expr` — the star expands the inner SELECT *, and the helper
    // column must NOT leak into the output schema
    val df = Engine.sql(spark,
      "SELECT DISTINCT ON (k) *, v * 2 AS dbl FROM engine_spec_don2 " +
        "ORDER BY k, v DESC")
    assert(df.columns.toSeq == Seq("k", "v", "dbl"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSet == Set((0L, 27L), (1L, 28L), (2L, 29L)))
  }

  test("the reference's generated read_parquet union-view DDL runs verbatim") {
    // byte-identical statement construction to the app's
    // createOrReplaceParquetView (/root/reference/src/App.tsx:316-327):
    // CREATE OR REPLACE VIEW <ident> AS SELECT * FROM read_parquet([<list>]);
    val dir = java.nio.file.Files.createTempDirectory("engine_spec_rp")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.parquet(s"$dir/one.parquet")
    // second file: different column set — read_parquet unifies by NAME
    Seq((3L, 30.5)).toDF("id", "score")
      .coalesce(1).write.parquet(s"$dir/two.parquet")
    val paths = Seq(s"$dir/one.parquet", s"$dir/two.parquet")
    val ident = Sql.sqlIdentifier("meus dados") // forces the quoted branch
    val list = "[" + paths.map(Sql.sqlStringLiteral).mkString(", ") + "]"
    Engine.exec(spark,
      s"CREATE OR REPLACE VIEW $ident AS SELECT * FROM read_parquet($list);")
    val df = spark.table(ident) // backtick-quoted, as the DDL named it
    assert(df.columns.toSet == Set("id", "name", "score"))
    assert(df.count() == 3L)
    assert(df.filter($"score".isNotNull).count() == 1L)
    // single-path call form, and the same call text reuses the view
    val one = Engine.sql(spark,
      s"SELECT COUNT(*) AS n FROM read_parquet('${paths.head}')")
    assert(one.collect()(0).getLong(0) == 2L)
  }

  test("read_csv / read_json table functions route by function format") {
    val dir = java.nio.file.Files.createTempDirectory("engine_spec_rf")
    java.nio.file.Files.writeString(dir.resolve("t.csv"), "a,b\n1,x\n2,y\n")
    java.nio.file.Files.writeString(dir.resolve("t.ndjson"),
      "{\"a\":5}\n{\"a\":6}\n")
    assert(Engine.sql(spark,
      s"SELECT SUM(a) AS s FROM read_csv('$dir/t.csv')")
      .collect()(0).getLong(0) == 3L)
    assert(Engine.sql(spark,
      s"SELECT SUM(a) AS s FROM read_json('$dir/t.ndjson')")
      .collect()(0).getLong(0) == 11L)
    // named options: header=false reads the first row as data, and
    // delim switches the separator
    java.nio.file.Files.writeString(dir.resolve("h.csv"), "5,x\n6,y\n")
    assert(Engine.sql(spark,
      s"SELECT COUNT(*) AS n FROM read_csv('$dir/h.csv', header=false)")
      .collect()(0).getLong(0) == 2L)
    java.nio.file.Files.writeString(dir.resolve("p.csv"), "a|b\n1|x\n")
    assert(Engine.sql(spark,
      s"SELECT a FROM read_csv('$dir/p.csv', delim='|')")
      .collect()(0).getInt(0) == 1)
    // an unsupported reader option refuses loudly instead of being
    // silently dropped; so does an option on the wrong format
    val e = intercept[IllegalArgumentException](Engine.sql(spark,
      s"SELECT * FROM read_csv('$dir/t.csv', all_varchar=true)"))
    assert(e.getMessage.contains("unsupported argument"))
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      s"SELECT * FROM read_json('$dir/t.ndjson', header=true)"))
    // a missing path surfaces the targeted hint through tryQuery
    val out = Engine.tryQuery(spark,
      "SELECT * FROM read_parquet('/no/such/file.parquet')")
    assert(out.isLeft && out.swap.exists(_.contains("/no/such/file.parquet")))
    // and the function name outside table position is untouched
    assert(Engine.tryQuery(spark,
      "SELECT read_parquet('x') AS v").isLeft) // unresolved fn, loud
  }

  test("QUALIFY and FROM-first route inside CREATE VIEW bodies") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_qv_src AS " +
        "SELECT id % 3 AS g, id AS v FROM range(30)")
    // a saved view definition carrying QUALIFY — the dialect rewrite
    // applies to the DDL's AS-body
    Engine.exec(spark,
      """CREATE OR REPLACE TEMPORARY VIEW engine_spec_qv AS
        |SELECT g, v FROM engine_spec_qv_src
        |QUALIFY row_number() OVER (PARTITION BY g ORDER BY v DESC) <= 2
        |""".stripMargin)
    val rows = Engine.sql(spark,
      "SELECT g, v FROM engine_spec_qv ORDER BY g, v DESC").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 24L), (0L, 27L), (1L, 25L), (1L, 28L),
      (2L, 26L), (2L, 29L)).sortBy(t => (t._1, -t._2)))
    // FROM-first inside a CTAS body
    val t = s"engine_spec_ff_p${ProcessHandle.current.pid}"
    try {
      Engine.exec(spark,
        s"CREATE TABLE $t AS FROM engine_spec_qv_src SELECT g, COUNT(*) AS n " +
          "GROUP BY g")
      assert(spark.table(t).count() == 3L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("COPY (HEADER false) refuses instead of writing a header anyway") {
    val dir = java.nio.file.Files.createTempDirectory("copyhdr").toString
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      s"COPY (SELECT 1 AS x) TO '$dir/out.csv' (FORMAT csv, HEADER false)"))
    // the affirmative spellings still pass
    Engine.sql(spark,
      s"COPY (SELECT 1 AS x) TO '$dir/ok.csv' (FORMAT csv, HEADER true)")
    Engine.sql(spark,
      s"COPY (SELECT 1 AS x) TO '$dir/ok2.csv' (FORMAT csv, HEADER)")
  }

  test("PIVOT without GROUP BY derives the implicit keys from the schema") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_piv3 AS " +
        "SELECT CAST(id % 2 AS STRING) AS g, id % 3 AS h, " +
        "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END AS k, id AS v " +
        "FROM range(60)")
    // DuckDB's primary spelling: no GROUP BY — group by every column
    // not referenced in ON/USING (here: g and h; k is ON, v is USING)
    val df = Engine.sql(spark,
      "PIVOT engine_spec_piv3 ON k USING SUM(v) ORDER BY g, h")
    assert(df.columns.toSeq == Seq("g", "h", "x", "y"))
    assert(df.count() == 6L)
    // all-columns-referenced refuses instead of grouping by nothing
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      "PIVOT (SELECT k, v FROM engine_spec_piv3) ON k USING SUM(v)"))
  }

  test("PIVOT and UNPIVOT keep a subquery source's own alias") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_piv4 AS " +
        "SELECT * FROM VALUES ('x', 'A'), ('x', 'B'), ('y', 'A') v(g, k)")
    // DuckDB accepts `(subquery) AS s` and `(subquery) s` as the source
    // and returns the same rows as the unaliased form
    val bare = Engine.sql(spark,
      "PIVOT (SELECT * FROM engine_spec_piv4) ON k USING COUNT(*) ORDER BY g")
      .collect().toSeq
    assert(bare.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("x", 1L, 1L), ("y", 1L, 0L)))
    for (alias <- Seq("AS s", "s"))
      assert(Engine.sql(spark,
        s"PIVOT (SELECT * FROM engine_spec_piv4) $alias ON k USING COUNT(*)" +
          " ORDER BY g").collect().toSeq == bare, alias)
    assert(Engine.sql(spark,
      "UNPIVOT (SELECT g, k FROM engine_spec_piv4) AS s ON k" +
        " INTO NAME n VALUE val ORDER BY g, val").count() == 3L)
  }

  test("PIVOT orders numeric key columns numerically, not lexically") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_piv2 AS " +
        "SELECT 'g' AS g, id AS m, 1 AS v FROM range(1, 13)")
    val cols = Engine.sql(spark,
      "PIVOT engine_spec_piv2 ON m USING SUM(v) GROUP BY g").columns.toSeq
    assert(cols == "g" +: (1 to 12).map(_.toString),
      s"expected 1..12 in numeric order, got $cols")
  }

  test("ASOF JOIN routes to the interval-join rewrite") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW asof_trades AS SELECT * FROM " +
        "VALUES (1, 10, 'u'), (1, 25, 'v'), (2, 5, 'w') t(sym, t, tag)")
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW asof_prices AS SELECT * FROM " +
        "VALUES (1, 8, 100.0D), (1, 20, 110.0D), (1, 30, 120.0D), " +
        "(2, 9, 50.0D) p(sym, t, px)")
    // backward (>=): each trade takes the latest price at-or-before it
    val back = Engine.sql(spark,
      "SELECT tr.tag, pr.px FROM asof_trades tr ASOF JOIN asof_prices pr " +
        "ON tr.sym = pr.sym AND tr.t >= pr.t ORDER BY tr.tag").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(back == Seq(("u", 100.0), ("v", 110.0)),
      s"backward asof picked $back") // trade w at t=5 has no price <= 5
    // LEFT keeps unmatched trades with NULL price
    val left = Engine.sql(spark,
      "SELECT tr.tag, pr.px FROM asof_trades tr ASOF LEFT JOIN asof_prices pr " +
        "ON tr.sym = pr.sym AND tr.t >= pr.t ORDER BY tr.tag").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
      .toSeq
    assert(left == Seq(("u", 100.0), ("v", 110.0), ("w", -1.0)))
    // forward (<=): the earliest price at-or-after the trade
    val fwd = Engine.sql(spark,
      "SELECT tr.tag, pr.px FROM asof_trades tr ASOF JOIN asof_prices pr " +
        "ON tr.sym = pr.sym AND tr.t <= pr.t ORDER BY tr.tag").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(fwd == Seq(("u", 110.0), ("v", 120.0), ("w", 50.0)),
      s"forward asof picked $fwd")
    // bare SELECT * hides the helper interval column
    val star = Engine.sql(spark,
      "SELECT * FROM asof_trades tr ASOF JOIN asof_prices pr " +
        "ON tr.sym = pr.sym AND tr.t >= pr.t")
    assert(!star.columns.contains("__graft_adj"), star.columns.mkString(","))
    // the plan must be an equi-join (hash or sort-merge), never a loop
    val plan = Engine.explain(Engine.sql(spark,
      "SELECT tr.tag, pr.px FROM asof_trades tr ASOF JOIN asof_prices pr " +
        "ON tr.sym = pr.sym AND tr.t >= pr.t"), "simple")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"asof must plan as an equi-join:\n$plan")
    // two inequalities refuse (which one is the as-of axis is ambiguous)
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      "SELECT tr.tag FROM asof_trades tr ASOF JOIN asof_prices pr " +
        "ON tr.sym = pr.sym AND tr.t >= pr.t AND tr.t < pr.px"))
  }

  test("COPY FROM imports positionally with the table's types") {
    val t = s"engine_spec_cpf_p${ProcessHandle.current.pid}"
    val dir = java.nio.file.Files.createTempDirectory("cpf").toString
    try {
      Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
      Engine.exec(spark, s"CREATE TABLE $t (k BIGINT, v DOUBLE)")
      Engine.sql(spark,
        s"COPY (SELECT CAST(id AS BIGINT) AS a, CAST(id * 1.5 AS DOUBLE) AS b" +
          s" FROM range(4)) TO '$dir/data.csv' (FORMAT csv, HEADER)")
      Engine.sql(spark, s"COPY $t FROM '$dir/data.csv' (FORMAT csv, HEADER)")
      val rows = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      // columns land by POSITION (file says a/b, table says k/v)
      assert(rows == Seq((0L, 0.0), (1L, 1.5), (2L, 3.0), (3L, 4.5)))
      // arity mismatch refuses
      Engine.sql(spark,
        s"COPY (SELECT 1 AS only_one) TO '$dir/narrow.csv' (FORMAT csv)")
      assertThrows[IllegalArgumentException](Engine.sql(spark,
        s"COPY $t FROM '$dir/narrow.csv' (FORMAT csv)"))
      // unknown options refuse
      assertThrows[IllegalArgumentException](Engine.sql(spark,
        s"COPY $t FROM '$dir/data.csv' (DELIMITER '|')"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("SHOW <table> routes to describe like DuckDB's shorthand") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_show AS " +
        "SELECT 1 AS a, 'x' AS b")
    val rows = Engine.sql(spark, "SHOW engine_spec_show").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    // Spark's own SHOW statements pass through untouched
    assert(Engine.sql(spark, "SHOW TABLES").columns.contains("tableName"))
  }

  test("PRAGMA table_info / show_tables route to engine introspection") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_pragma AS " +
        "SELECT CAST(1 AS BIGINT) AS id, 'x' AS name")
    val res = Engine.sql(spark, "PRAGMA table_info('engine_spec_pragma')")
    // DuckDB's exact table_info columns (r18 shape parity)
    assert(res.columns.toSeq ==
      Seq("cid", "name", "type", "notnull", "dflt_value", "pk"))
    val info = res.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(info == Seq((0, "id", "BIGINT"), (1, "name", "STRING")))
    // bare identifier spelling too
    assert(Engine.sql(spark, "PRAGMA table_info(engine_spec_pragma)")
      .count() == 2)
    val tables = Engine.sql(spark, "PRAGMA show_tables")
      .collect().map(_.getString(0)).toSet
    assert(tables.contains("engine_spec_pragma"))
  }

  test("settings PRAGMAs and maintenance verbs no-op; bare PRAGMA refuses") {
    // assignment-shaped host-tuning pragmas a migrating script carries
    assert(Engine.sql(spark, "PRAGMA threads=4").count() == 0L)
    assert(Engine.sql(spark, "PRAGMA memory_limit='2GB'").count() == 0L)
    assert(Engine.sql(spark,
      "PRAGMA enable_progress_bar(false)").count() == 0L)
    // maintenance verbs with no storage-model analog here
    assert(Engine.sql(spark, "VACUUM").count() == 0L)
    assert(Engine.sql(spark, "ANALYZE").count() == 0L)
    assert(Engine.sql(spark, "CHECKPOINT").count() == 0L)
    // a BARE introspection pragma still fails loudly (silently
    // returning nothing for PRAGMA version would be wrongness)
    assertThrows[Exception](Engine.sql(spark, "PRAGMA version"))
    // Spark's own ANALYZE TABLE statement passes through untouched
    Engine.exec(spark, s"DROP TABLE IF EXISTS engine_spec_an")
    Engine.exec(spark, "CREATE TABLE engine_spec_an AS SELECT 1 AS x")
    try Engine.exec(spark,
      "ANALYZE TABLE engine_spec_an COMPUTE STATISTICS")
    finally Engine.exec(spark, "DROP TABLE IF EXISTS engine_spec_an")
  }

  test("ASOF rewrite: identifiers named asof pass through; stars scrubbed") {
    // a column/alias legally named asof is not a join
    val r = Engine.sql(spark, "SELECT 5 AS asof ORDER BY asof").collect()
    assert(r.length == 1 && r(0).getInt(0) == 5)
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW asof_a2 AS SELECT 1 AS k, 10 AS t")
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW asof_b2 AS " +
        "SELECT 1 AS k, 8 AS bt, 7.5D AS px")
    // an asof-named alias BEFORE a real ASOF JOIN: the join still routes
    val mixed = Engine.sql(spark,
      "SELECT a.t AS asof, b.px FROM asof_a2 a ASOF JOIN asof_b2 b " +
        "ON a.k = b.k AND a.t >= b.bt").collect()
    assert(mixed.length == 1 && mixed(0).getDouble(1) == 7.5)
    // b-side qualified star and mid-list star both hide the helper
    val qs = Engine.sql(spark,
      "SELECT b.* FROM asof_a2 a ASOF JOIN asof_b2 b " +
        "ON a.k = b.k AND a.t >= b.bt")
    assert(qs.columns.toSeq == Seq("k", "bt", "px"), qs.columns.mkString(","))
    val midStar = Engine.sql(spark,
      "SELECT *, a.t + 1 AS t1 FROM asof_a2 a ASOF JOIN asof_b2 b " +
        "ON a.k = b.k AND a.t >= b.bt")
    assert(!midStar.columns.contains("__graft_adj"),
      midStar.columns.mkString(","))
  }

  test("COPY FROM honors DuckDB's HEADER-false default") {
    val t = s"engine_spec_hdrless_p${ProcessHandle.current.pid}"
    val dir = java.nio.file.Files.createTempDirectory("cpfh").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/plain.csv"), "1,0.5\n2,1.5\n")
    try {
      Engine.exec(spark, s"CREATE TABLE $t (k BIGINT, v DOUBLE)")
      // no HEADER option: the first line is DATA, both rows land
      Engine.sql(spark, s"COPY $t FROM '$dir/plain.csv' (FORMAT csv)")
      assert(spark.table(t).count() == 2L,
        "headerless import must not eat the first data row")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("PIVOT key order is exact past double precision") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_bigk AS " +
        "SELECT * FROM VALUES ('g', 9007199254740993, 1), " +
        "('g', 9007199254740994, 1), ('g', 2, 1) v(g, k, v)")
    val cols = Engine.sql(spark,
      "PIVOT engine_spec_bigk ON k USING SUM(v) GROUP BY g").columns.toSeq
    assert(cols == Seq("g", "2", "9007199254740993", "9007199254740994"),
      cols.mkString(","))
  }

  test("DESCRIBE 'path' routes to engine describe like DuckDB") {
    val dir = java.nio.file.Files.createTempDirectory("engine_spec_dp")
    java.nio.file.Files.writeString(dir.resolve("d.csv"), "a,b\n1,x\n")
    val rows = Engine.sql(spark, s"DESCRIBE '$dir/d.csv'").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    // the table-function spelling of the same one-liner
    val rows2 = Engine.sql(spark,
      s"DESCRIBE read_csv('$dir/d.csv')").collect()
    assert(rows2.map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("transaction brackets no-op; ROLLBACK refuses") {
    // a migrating script's BEGIN/COMMIT wrap runs; the statements
    // in between auto-commit
    val out = Engine.runScript(spark,
      """BEGIN TRANSACTION;
        |CREATE OR REPLACE TEMPORARY VIEW engine_spec_txn AS SELECT 4 AS x;
        |COMMIT;
        |SELECT x FROM engine_spec_txn;""".stripMargin)
    assert(out.get.collect()(0).getInt(0) == 4)
    // ROLLBACK cannot be honored (no transaction log) — loud refusal
    assertThrows[IllegalArgumentException](Engine.sql(spark, "ROLLBACK"))
  }

  test("CREATE INDEX no-ops; UNIQUE INDEX refuses; DROP INDEX no-ops") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_idx AS SELECT 1 AS k")
    Engine.exec(spark, "CREATE INDEX idx_k ON engine_spec_idx (k)")
    Engine.exec(spark, "DROP INDEX IF EXISTS idx_k")
    // a UNIQUE index promises a constraint this engine can't enforce
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      "CREATE UNIQUE INDEX u_k ON engine_spec_idx (k)"))
  }

  test("UNPIVOT statements route to Spark's UNPIVOT clause") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_unp AS " +
        "SELECT 1 AS id, 10.0D AS a, 20.0D AS b")
    val rows = Engine.sql(spark,
      "UNPIVOT engine_spec_unp ON a, b INTO NAME m VALUE v ORDER BY m")
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("a", 10.0), ("b", 20.0)))
    // and as a parenthesized table expression
    assert(Engine.sql(spark,
      "SELECT COUNT(*) AS n FROM (UNPIVOT engine_spec_unp ON a, b" +
        " INTO NAME m VALUE v) u").collect()(0).getLong(0) == 2L)
    // the multi-value form refuses instead of splicing a phantom join
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      "UNPIVOT engine_spec_unp ON (a) AS x, (b) AS y" +
        " INTO NAME m VALUE v1, v2"))
  }

  test("DELETE USING removes exactly the matched rows via anti-join") {
    val t = s"engine_spec_du_p${ProcessHandle.current.pid}"
    try {
      Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
      Engine.exec(spark,
        s"CREATE TABLE $t AS SELECT id AS k, id * 10 AS v FROM range(10)")
      Engine.exec(spark,
        "CREATE OR REPLACE TEMPORARY VIEW engine_spec_du_src AS " +
          "SELECT id * 2 AS k FROM range(3)") // keys 0, 2, 4
      Engine.sql(spark,
        s"DELETE FROM $t USING engine_spec_du_src" +
          s" WHERE $t.k = engine_spec_du_src.k")
      val left = spark.table(t).collect().map(_.getLong(0)).sorted.toSeq
      assert(left == Seq(1L, 3L, 5L, 6L, 7L, 8L, 9L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("UPDATE FROM routes to the update-only merge") {
    val t = s"engine_spec_uf_p${ProcessHandle.current.pid}"
    try {
      Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
      Engine.exec(spark,
        s"CREATE TABLE $t AS SELECT id AS k, CAST(0.0 AS DOUBLE) AS v" +
          " FROM range(10)")
      Engine.exec(spark,
        "CREATE OR REPLACE TEMPORARY VIEW engine_spec_uf_src AS " +
          "SELECT id * 3 AS k, CAST(9.5 AS DOUBLE) AS v FROM range(5)")
      // source keys 0,3,6,9 match; 12 does not — and must NOT insert
      Engine.sql(spark,
        s"UPDATE $t SET v = engine_spec_uf_src.v FROM engine_spec_uf_src" +
          s" WHERE $t.k = engine_spec_uf_src.k")
      val m = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(m.size == 10, "UPDATE FROM must never insert")
      assert(Seq(0L, 3L, 6L, 9L).forall(m(_) == 9.5))
      assert(m(1L) == 0.0 && m(5L) == 0.0)
      // a plain UPDATE (no FROM) still routes through the WHERE path
      Engine.sql(spark, s"UPDATE $t SET v = -1.0 WHERE k = 5")
      assert(spark.table(t).filter("k = 5").collect()(0).getDouble(1) == -1.0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("PIVOT statements work as parenthesized table expressions") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_pivsub AS " +
        "SELECT CAST(id % 2 AS STRING) AS g, " +
        "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS k, id AS v " +
        "FROM range(12)")
    val df = Engine.sql(spark,
      "SELECT g, a + b AS total FROM " +
        "(PIVOT engine_spec_pivsub ON k USING COUNT(*) GROUP BY g) p " +
        "ORDER BY g")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("0", 6L), ("1", 6L)))
  }

  test("EXPORT DATABASE / IMPORT DATABASE round-trips the catalog") {
    val dir = java.nio.file.Files.createTempDirectory("engine_spec_exdb")
      .toString
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_exp1 AS " +
        "SELECT id AS k, id * 2 AS v FROM range(100)")
    val manifest = Engine.sql(spark, s"EXPORT DATABASE '$dir'")
      .collect().map(_.getString(0))
    assert(manifest.contains("engine_spec_exp1"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "load.sql")))
    // drop, then IMPORT recreates the relation over the exported files
    spark.catalog.dropTempView("engine_spec_exp1")
    Engine.sql(spark, s"IMPORT DATABASE '$dir'")
    val back = spark.table("engine_spec_exp1")
    assert(back.count() == 100L)
    assert(back.agg(org.apache.spark.sql.functions.sum("v"))
      .collect()(0).getLong(0) == 9900L)
    // the emitted load.sql speaks the shared dialect: read_parquet list
    val load = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "load.sql"))
    assert(load.contains("read_parquet(['"))
  }

  test("review fixes: no-space column list, fresh re-reads, modifier scrub") {
    // INSERT INTO t(cols) — the common no-space spelling routes
    val t = s"engine_spec_rf2_p${ProcessHandle.current.pid}"
    try {
      Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
      Engine.exec(spark,
        s"CREATE TABLE $t AS SELECT id AS k, CAST(id AS DOUBLE) AS v" +
          " FROM range(5)")
      Engine.sql(spark,
        s"INSERT INTO $t(k, v) VALUES (3, 99.0), (50, 1.0)" +
          " ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v")
      val m = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(m(3L) == 99.0 && m(50L) == 1.0 && m.size == 6)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    // a read_parquet view re-lists per call: overwrite then re-read
    // must serve the NEW bytes, like DuckDB
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("engine_spec_fresh")
    val p = s"$dir/data.parquet"
    Seq(1L, 2L).toDF("x").coalesce(1).write.parquet(p)
    assert(Engine.sql(spark, s"SELECT SUM(x) AS s FROM read_parquet('$p')")
      .collect()(0).getLong(0) == 3L)
    Seq(10L, 20L, 30L).toDF("x").coalesce(1)
      .write.mode("overwrite").parquet(p)
    assert(Engine.sql(spark, s"SELECT SUM(x) AS s FROM read_parquet('$p')")
      .collect()(0).getLong(0) == 60L)
    // glob paths resolve through the same route
    assert(Engine.sql(spark,
      s"SELECT SUM(x) AS s FROM read_parquet('$p/*.parquet')")
      .collect()(0).getLong(0) == 60L)
    // DISTINCT ON with a star EXCLUDE modifier scrubs the helper too
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_donx AS " +
        "SELECT id % 3 AS k, id AS v, id * 2 AS w FROM range(30)")
    val don = Engine.sql(spark,
      "SELECT DISTINCT ON (k) * EXCLUDE (w) FROM engine_spec_donx " +
        "ORDER BY k, v DESC")
    assert(don.columns.toSeq == Seq("k", "v"),
      s"helper/excluded columns must not leak: ${don.columns.toSeq}")
    assert(don.count() == 3L)
    // PIVOT implicit keys keep a column named like an aggregate function
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_pivfn AS " +
        "SELECT CAST(id % 2 AS STRING) AS count, " +
        "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS k, id AS v " +
        "FROM range(12)")
    val piv = Engine.sql(spark,
      "PIVOT engine_spec_pivfn ON k USING COUNT(v) ORDER BY count")
    assert(piv.columns.toSeq == Seq("count", "a", "b"),
      s"column named 'count' must stay an implicit key: ${piv.columns.toSeq}")
  }

  test("second-pass review fixes: ASOF modifier scrub, fresh quoted paths") {
    // ASOF with a star EXCLUDE modifier scrubs the interval helper too
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_asx_a AS " +
        "SELECT * FROM VALUES (1, 10, 'p1'), (1, 25, 'p2')" +
        " v(uid, ts, tag)")
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_asx_b AS " +
        "SELECT * FROM VALUES (1, 5, 0.5), (1, 20, 0.7) v(uid, ts, w)")
    val asof = Engine.sql(spark,
      "SELECT * EXCLUDE (tag) FROM engine_spec_asx_a a " +
        "ASOF JOIN engine_spec_asx_b b " +
        "ON a.uid = b.uid AND a.ts >= b.ts ORDER BY a.ts")
    assert(!asof.columns.exists(_.contains("__graft")),
      s"helper must not leak through modifier stars: ${asof.columns.toSeq}")
    // ON CONFLICT( with no space routes
    val t = s"engine_spec_oc_p${ProcessHandle.current.pid}"
    try {
      Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
      Engine.exec(spark,
        s"CREATE TABLE $t AS SELECT id AS k, id AS v FROM range(3)")
      Engine.sql(spark,
        s"INSERT INTO $t VALUES (1, 99) ON CONFLICT(k) DO UPDATE SET" +
          " v = EXCLUDED.v")
      assert(spark.table(t).filter("k = 1").collect()(0).getLong(1) == 99L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    // a quoted-path table re-reads fresh after an overwrite (stamped)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("engine_spec_qfresh")
    val p = s"$dir/q.parquet"
    Seq(1L).toDF("x").coalesce(1).write.parquet(p)
    assert(Engine.sql(spark, s"SELECT SUM(x) AS s FROM '$p'")
      .collect()(0).getLong(0) == 1L)
    Seq(7L, 8L).toDF("x").coalesce(1).write.mode("overwrite").parquet(p)
    assert(Engine.sql(spark, s"SELECT SUM(x) AS s FROM '$p'")
      .collect()(0).getLong(0) == 15L,
      "overwritten quoted-path table must serve the new bytes")
    // union_by_name accepted for multi-file json (unifies by name)
    java.nio.file.Files.writeString(dir.resolve("j1.ndjson"), "{\"a\":1}\n")
    java.nio.file.Files.writeString(dir.resolve("j2.ndjson"),
      "{\"a\":2,\"b\":\"x\"}\n")
    val j = Engine.sql(spark,
      s"SELECT * FROM read_json(['$dir/j1.ndjson', '$dir/j2.ndjson']," +
        " union_by_name=true)")
    assert(j.columns.toSet == Set("a", "b") && j.count() == 2L)
  }

  test("EXPORT DATABASE skips the engine's auto-registered path views") {
    val src = java.nio.file.Files.createTempDirectory("engine_spec_auto")
    import spark.implicits._
    Seq(1, 2).toDF("z").coalesce(1).write.parquet(s"$src/auto.parquet")
    // a quoted-path scan registers an internal view...
    Engine.sql(spark, s"SELECT * FROM '$src/auto.parquet'").collect()
    val out = java.nio.file.Files.createTempDirectory("engine_spec_exdb2")
      .toString
    val names = Engine.sql(spark, s"EXPORT DATABASE '$out'")
      .collect().map(_.getString(0))
    // ...which must NOT be exported (its data lives in the source file)
    assert(!names.exists(_.contains("auto_parquet")),
      s"auto-registered path views must be skipped: ${names.toSeq}")
    // but a USER view re-using that name becomes a user relation and
    // exports again (the DDL route releases the auto-claim)
    val vn = Catalog.claimViewName(spark, s"$src/auto.parquet")
    Engine.exec(spark,
      s"CREATE OR REPLACE TEMPORARY VIEW `$vn` AS SELECT 42 AS reclaimed")
    val out2 = java.nio.file.Files.createTempDirectory("engine_spec_exdb3")
      .toString
    val names2 = Engine.sql(spark, s"EXPORT DATABASE '$out2'")
      .collect().map(_.getString(0))
    assert(names2.contains(vn),
      s"a user relation re-using an auto name must export: $vn")
  }

  test("SIMILAR TO rewrites to an anchored RLIKE") {
    // SIMILAR TO matches the ENTIRE string; RLIKE searches — the shim
    // must anchor
    val r = Engine.sql(spark,
      "SELECT 'spark' SIMILAR TO 'sp.*' AS a," +
        " 'spark' SIMILAR TO 'par' AS b," +
        " 'spark' NOT SIMILAR TO 'par' AS c").collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2))
    // inert inside string literals and comments
    assert(Engine.sql(spark, "SELECT 'x SIMILAR TO y' AS s")
      .collect()(0).getString(0) == "x SIMILAR TO y")
  }

  test("INSERT OR REPLACE/IGNORE refuse naming the ON CONFLICT spelling") {
    val e = intercept[IllegalArgumentException](Engine.sql(spark,
      "INSERT OR REPLACE INTO t VALUES (1)"))
    assert(e.getMessage.contains("ON CONFLICT"))
    val e2 = intercept[IllegalArgumentException](Engine.sql(spark,
      "INSERT OR IGNORE INTO t VALUES (1)"))
    assert(e2.getMessage.contains("DO NOTHING"))
  }

  test("struct_pack rewrites to named_struct, nested calls included") {
    val r = Engine.sql(spark,
      "SELECT struct_pack(a := 1, b := 'x') AS s," +
        " (struct_pack(o := struct_pack(q := 7))).o.q AS q").collect()(0)
    assert(r.getStruct(0).getInt(0) == 1 &&
      r.getStruct(0).getString(1) == "x")
    assert(r.getInt(1) == 7)
    // positional arguments refuse rather than mis-name fields
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      "SELECT struct_pack(1, 2) AS s"))
    // the name outside call position is untouched
    assert(Engine.sql(spark, "SELECT 'struct_pack(a := 1)' AS t")
      .collect()(0).getString(0) == "struct_pack(a := 1)")
  }

  test("DuckDB list/struct literals rewrite to array/named_struct") {
    val r = Engine.sql(spark,
      "SELECT [1, 2, 3] AS l, {'a': 1::BIGINT, 'b': 'x'} AS s," +
        " ({'q': 7}).q AS q, list_contains(['A', 'R'], 'R') AS c")
      .collect()(0)
    assert(r.getSeq[Int](0) == Seq(1, 2, 3))
    assert(r.getStruct(1).getLong(0) == 1L &&
      r.getStruct(1).getString(1) == "x")
    assert(r.getInt(2) == 7)
    assert(r.getBoolean(3))
    // adjacent brackets are subscripts, 1-based as in DuckDB: [0] is NULL
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_lit AS" +
        " SELECT array(10, 20) AS arr")
    assert(Engine.sql(spark, "SELECT arr[0] AS h FROM engine_spec_lit")
      .collect()(0).isNullAt(0))
    // nested literals, and bracket text inside strings stays text
    val nested = Engine.sql(spark,
      "SELECT {'p': [1, 2], 'q': {'r': 3}} AS n").collect()(0).getStruct(0)
    assert(nested.getSeq[Int](0) == Seq(1, 2))
    assert(nested.getStruct(1).getInt(0) == 3)
    assert(Engine.sql(spark, "SELECT '[1,2]' AS t").collect()(0)
      .getString(0) == "[1,2]")
  }

  test("dialect shims apply inside CTE and subquery bodies") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_sub AS" +
        " SELECT id % 3 AS g, id AS v FROM range(30)")
    // QUALIFY inside a CTE body
    val rows = Engine.sql(spark,
      "WITH top AS (SELECT g, v FROM engine_spec_sub QUALIFY" +
        " row_number() OVER (PARTITION BY g ORDER BY v DESC) = 1)" +
        " SELECT g, v FROM top ORDER BY g").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 27L), (1L, 28L), (2L, 29L)))
    // DISTINCT ON inside a derived table
    val don = Engine.sql(spark,
      "SELECT COUNT(*) AS n FROM (SELECT DISTINCT ON (g) g, v" +
        " FROM engine_spec_sub ORDER BY g, v DESC) d").collect()(0).getLong(0)
    assert(don == 3L)
    // FROM-first as a derived table
    val ff = Engine.sql(spark,
      "SELECT COUNT(*) AS n FROM (FROM engine_spec_sub WHERE v >= 10) f")
      .collect()(0).getLong(0)
    assert(ff == 20L)
  }

  test("COLUMNS('regex') desugars to the matching columns in order") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_cols AS " +
        "SELECT 1 AS price_a, 2 AS qty, 3 AS price_b, 4 AS other")
    val df = Engine.sql(spark,
      "SELECT COLUMNS('^price'), qty FROM engine_spec_cols")
    assert(df.columns.toSeq == Seq("price_a", "price_b", "qty"))
    // wrapped form: one aggregate per matching column (engine-dependent
    // auto-names, value shape asserted)
    val agg = Engine.sql(spark,
      "SELECT max(COLUMNS('^price')) FROM engine_spec_cols").collect()(0)
    assert((agg.getInt(0), agg.getInt(1)) == ((1, 3)))
    // a no-match regex refuses, like DuckDB
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      "SELECT COLUMNS('zzz') FROM engine_spec_cols"))
    // and the word COLUMNS as an identifier is untouched
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_cols2 AS " +
        "SELECT 9 AS columns")
    assert(Engine.sql(spark,
      "SELECT columns FROM engine_spec_cols2").collect()(0).getInt(0) == 9)
  }

  test("star REPLACE desugars against the analyzed source schema") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW engine_spec_repl AS " +
        "SELECT 1 AS a, 2 AS b, 3 AS c")
    // substitution in place, declaration order preserved
    val r1 = Engine.sql(spark,
      "SELECT * REPLACE (b * 10 AS b) FROM engine_spec_repl")
    assert(r1.columns.toSeq == Seq("a", "b", "c"))
    assert(r1.collect()(0).getInt(1) == 20)
    // EXCLUDE and REPLACE compose on one star, like DuckDB
    val r2 = Engine.sql(spark,
      "SELECT * EXCLUDE (c) REPLACE (a + b AS a) FROM engine_spec_repl")
    assert(r2.columns.toSeq == Seq("a", "b"))
    assert(r2.collect()(0).getInt(0) == 3)
    // a CAST's AS inside the expression is not the alias separator
    val r3 = Engine.sql(spark,
      "SELECT * REPLACE (CAST(a AS STRING) AS a) FROM engine_spec_repl")
    assert(r3.schema("a").dataType.typeName == "string")
    // CTE sources resolve for the schema probe
    val r4 = Engine.sql(spark,
      "WITH t AS (SELECT 5 AS x, 6 AS y) " +
        "SELECT * REPLACE (x - 1 AS x) FROM t").collect()(0)
    assert((r4.getInt(0), r4.getInt(1)) == ((4, 6)))
    // mid-list star + other items keep their positions
    val r5 = Engine.sql(spark,
      "SELECT 0 AS z, * REPLACE (b + 1 AS b) FROM engine_spec_repl")
    assert(r5.columns.toSeq == Seq("z", "a", "b", "c"))
    // a REPLACE target that is not a source column refuses
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      "SELECT * REPLACE (1 AS nope) FROM engine_spec_repl"))
  }

  test("tryQuery: round-17 route refusals surface as messages too") {
    // every guard-rail refusal added this round must reach a UI user as
    // a message through the error surface, never a stack trace
    Seq(
      "ROLLBACK",
      "SELECT * FROM engine_spec_smp USING SAMPLE 5 ROWS",
      "INSERT OR REPLACE INTO t VALUES (1)",
      "CREATE UNIQUE INDEX u ON t (k)",
      "UNPIVOT engine_spec_unp ON a, b INTO NAME m VALUE v1, v2",
      "SELECT COLUMNS('zzz') FROM engine_spec_smp"
    ).foreach { stmt =>
      assert(Engine.tryQuery(spark, stmt).isLeft, s"must refuse: $stmt")
    }
  }

  test("tryQuery: authoring errors come back as messages, not throws") {
    assert(Engine.tryQuery(spark, "SELECT 1 AS ok").isRight)
    val parse = Engine.tryQuery(spark, "SELEC 1")
    assert(parse.isLeft && parse.swap.exists(_.nonEmpty))
    val analysis = Engine.tryQuery(spark, "SELECT * FROM no_such_table_xyz")
    assert(analysis.isLeft &&
      analysis.swap.exists(_.contains("no_such_table_xyz")))
  }

  test("routed DML refuses temp views over registered (read-only) files") {
    // the c_sql_dml witness proves the TABLE path end to end; this pins
    // the guard rail — a user's DELETE against an imported file's view
    // must error clearly, never rewrite the input files
    graft.queries.Tables.views(spark, "/root/testdata/sf0.001")
    val e = intercept[IllegalArgumentException] {
      Engine.sql(spark, "DELETE FROM lineitem WHERE l_orderkey = 1")
    }
    assert(e.getMessage.contains("view over registered files"),
      s"expected the temp-view refusal: ${e.getMessage}")
  }

  test("routed DML refuses partitioned tables instead of silently no-opping") {
    // a PARTITIONED BY table's data lives in subdirectories the rewriter's
    // top-level file listing never sees — without the guard, DELETE would
    // report success with 0 files touched
    val t = s"graft_part_refuse_p${ProcessHandle.current.pid}"
    Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
    Engine.exec(spark,
      s"CREATE TABLE $t USING parquet PARTITIONED BY (p) AS " +
        "SELECT id, id % 3 AS p FROM RANGE(30)")
    try {
      val e = intercept[IllegalArgumentException] {
        Engine.sql(spark, s"DELETE FROM $t WHERE id = 1")
      }
      assert(e.getMessage.contains("partitioned"),
        s"expected the partitioned-table refusal: ${e.getMessage}")
      // and nothing was deleted
      assert(spark.table(t).count() == 30)
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  test("routed UPDATE splits on the real WHERE, not one inside a literal") {
    val t = s"graft_upd_literal_p${ProcessHandle.current.pid}"
    Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
    Engine.exec(spark,
      s"CREATE TABLE $t USING parquet AS " +
        "SELECT id, CAST('x' AS STRING) AS note FROM RANGE(10)")
    try {
      // the SET value contains a lowercase `where` inside the string
      // literal and the real WHERE follows — the quote-aware split must
      // assign the whole literal and filter on id >= 7
      Engine.sql(spark,
        s"UPDATE $t SET note = 'a where b' WHERE id >= 7").collect()
      spark.catalog.refreshTable(t)
      val notes = spark.table(t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(notes(8) == "a where b" && notes(3) == "x",
        s"literal-WHERE split broke the update: $notes")
      // and with NO top-level WHERE at all, the literal's `where` must
      // not be mistaken for one (all rows take the assignment)
      Engine.sql(spark,
        s"UPDATE $t SET note = 'all where rows'").collect()
      spark.catalog.refreshTable(t)
      assert(spark.table(t).filter("note = 'all where rows'").count() == 10)
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  test("routed MERGE refuses temp views and unsupported shapes") {
    graft.queries.Tables.views(spark, "/root/testdata/sf0.001")
    // temp view target: the read-only guard fires before anything runs
    val e = intercept[IllegalArgumentException] {
      Engine.sql(spark,
        "MERGE INTO lineitem USING orders ON lineitem.l_orderkey =" +
          " orders.l_orderkey WHEN MATCHED THEN UPDATE SET" +
          " l_orderkey = orders.l_orderkey WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e.getMessage.contains("view over registered files"), e.getMessage)
    // a non-equi ON refuses with the shape message, not a wrong merge
    val t = s"graft_mrg_shape_p${ProcessHandle.current.pid}"
    Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
    Engine.exec(spark,
      s"CREATE TABLE $t USING parquet AS SELECT id, id * 2 AS v FROM RANGE(10)")
    try {
      val e2 = intercept[IllegalArgumentException] {
        Engine.sql(spark,
          s"MERGE INTO $t USING orders ON $t.id < orders.o_orderkey" +
            s" WHEN MATCHED THEN UPDATE SET v = orders.o_orderkey" +
            " WHEN NOT MATCHED THEN INSERT *")
      }
      assert(e2.getMessage.contains("equi-key") ||
        e2.getMessage.contains("same-named"), e2.getMessage)
      // the other join-DML shapes keep their refusals
      val src = s"${t}_src"
      Engine.exec(spark, s"CREATE OR REPLACE TEMP VIEW $src AS" +
        " SELECT id, id * 3 AS v FROM RANGE(3)")
      def refusal(stmt: String): String =
        intercept[IllegalArgumentException](Engine.sql(spark, stmt))
          .getMessage
      val merge = s"MERGE INTO $t USING $src ON $t.id = $src.id" +
        " WHEN MATCHED THEN UPDATE SET"
      val m1 = refusal(s"$merge v = $src.id WHEN NOT MATCHED THEN INSERT *")
      assert(m1.contains("SET col = source.col of the same name"), m1)
      val m2 = refusal(s"$merge v = $src.v" +
        s" WHEN NOT MATCHED THEN INSERT (id) VALUES ($src.id)")
      assert(m2.contains("must cover the full source row"), m2)
      val m3 = refusal(s"UPDATE $t SET v = $src.v FROM $src")
      assert(m3.contains("needs a WHERE joining target to source"), m3)
      val m4 = refusal(s"UPDATE $t SET v = s.v FROM (SELECT * FROM $src) s" +
        s" WHERE $t.id = s.id")
      assert(m4.contains("needs a plain source relation"), m4)
      // a non-equi DELETE … USING takes the anti-join rewrite: a target
      // row goes when some source id (0, 1, 2) is greater than its own
      Engine.sql(spark, s"DELETE FROM $t USING $src WHERE $t.id < $src.id")
      assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq ==
        (2L to 9L))
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  test("INSERT ON CONFLICT routes both DO UPDATE and DO NOTHING") {
    val t = s"engine_spec_ups_p${ProcessHandle.current.pid}"
    try {
      Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
      Engine.exec(spark,
        s"CREATE TABLE $t AS SELECT id AS k, CAST(id AS DOUBLE) AS v," +
          " 'old' AS tag FROM range(10)")
      // DO UPDATE: keys 0..4 exist (take the proposed row), 100..101 fresh
      Engine.sql(spark,
        s"INSERT INTO $t SELECT id * 1 AS k, CAST(-1.0 AS DOUBLE), 'up'" +
          " FROM range(5) UNION ALL SELECT id + 100, CAST(7.5 AS DOUBLE)," +
          s" 'new' FROM range(2) ON CONFLICT (k) DO UPDATE SET" +
          " v = EXCLUDED.v, tag = EXCLUDED.tag")
      val after = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      assert(after.count(_._3 == "up") == 5 && after.count(_._3 == "new") == 2)
      assert(after.count(_._3 == "old") == 5 && after.length == 12)
      // DO NOTHING: key 3 exists (dropped), 200 fresh (inserted)
      Engine.sql(spark,
        s"INSERT INTO $t VALUES (3, 9.9, 'x'), (200, 2.0, 'frk')" +
          " ON CONFLICT (k) DO NOTHING")
      val after2 = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getString(2))).toMap
      assert(after2(3L) == "up" && after2(200L) == "frk")
      // refusals: reassigning the key, and a non-EXCLUDED right side
      assertThrows[IllegalArgumentException](Engine.sql(spark,
        s"INSERT INTO $t SELECT 1, 1.0, 'z' ON CONFLICT (k)" +
          " DO UPDATE SET k = EXCLUDED.k"))
      assertThrows[IllegalArgumentException](Engine.sql(spark,
        s"INSERT INTO $t SELECT 1, 1.0, 'z' ON CONFLICT (k)" +
          " DO UPDATE SET v = v + 1"))
      // plain INSERT INTO (no ON CONFLICT) still takes Spark's native path
      Engine.sql(spark, s"INSERT INTO $t VALUES (300, 1.0, 'plain')")
      assert(spark.table(t).count() == 14L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("COPY TO routes to the distributed writers and round-trips") {
    graft.queries.Tables.views(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files
      .createTempDirectory("graft-copy-spec").toString
    // csv leg: the RFC-4180 writer, read back through Catalog's csv route
    Engine.sql(spark,
      s"COPY (SELECT n_nationkey, n_name FROM nation) TO '$base/n.csv'" +
        " (FORMAT csv, HEADER)").collect()
    val csvBack = Catalog.read(spark, java.nio.file.Paths.get(s"$base/n.csv"))
    assert(csvBack.count() == 25 && csvBack.columns.toSeq ==
      Seq("n_nationkey", "n_name"))
    // bare table + extension-inferred format
    Engine.sql(spark, s"COPY nation TO '$base/n2.parquet'").collect()
    assert(spark.read.parquet(s"$base/n2.parquet").count() == 25)
    // unsupported options refuse instead of writing the wrong file
    val e = intercept[IllegalArgumentException] {
      Engine.sql(spark,
        s"COPY nation TO '$base/n3.csv' (FORMAT csv, DELIMITER '|')")
    }
    assert(e.getMessage.contains("not supported"), e.getMessage)
  }

  test("routed DELETE with a literal range prunes by footer stats") {
    // a range-clustered table (REPARTITION_BY_RANGE gives each file a
    // tight o_orderdate span) + a narrow typed DELETE: the routed
    // rewrite must extract [lo, hi) from the WHERE and skip disjoint
    // files — n_rewritten strictly under n_files (VERDICT r15 #8)
    graft.queries.Tables.views(spark, "/root/testdata/sf0.001")
    val t = s"graft_prune_route_p${ProcessHandle.current.pid}"
    Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
    Engine.exec(spark,
      s"CREATE TABLE $t USING parquet AS" +
        " SELECT /*+ REPARTITION_BY_RANGE(8, o_orderdate) */" +
        " o_orderkey, o_orderdate, o_totalprice FROM orders")
    try {
      val total = spark.table(t).count()
      val hit = spark.table(t).filter(
        "o_orderdate >= TIMESTAMP '1996-01-01'" +
          " AND o_orderdate < TIMESTAMP '1996-04-01'").count()
      assert(hit > 0, "fixture window must contain rows")
      val stats = Engine.sql(spark,
        s"DELETE FROM $t WHERE o_orderdate >= TIMESTAMP '1996-01-01'" +
          " AND o_orderdate < TIMESTAMP '1996-04-01'").collect()(0)
      val (nFiles, nRewritten) = (stats.getLong(0), stats.getLong(1))
      assert(nRewritten >= 1 && nRewritten < nFiles,
        s"expected a partial prune, rewrote $nRewritten/$nFiles")
      assert(spark.table(t).count() == total - hit,
        "pruned DELETE must remove exactly the predicate's rows")
      // the string-literal spelling prunes too (cast-evaluated bound)
      val stats2 = Engine.sql(spark,
        s"DELETE FROM $t WHERE o_orderdate < '1995-06-01'").collect()(0)
      assert(stats2.getLong(1) < stats2.getLong(0),
        s"one-sided string bound must prune: ${stats2.mkString(",")}")
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  test("routed DELETE prunes on DATE columns (INT32 day stats)") {
    // same shape as the timestamp prune test, but the cluster column is
    // a true DATE — the footer stats are INT32 days, which the stats
    // fold and the range extractor must both handle (VERDICT r16 #8)
    graft.queries.Tables.views(spark, "/root/testdata/sf0.001")
    val t = s"graft_prune_date_p${ProcessHandle.current.pid}"
    Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
    Engine.exec(spark,
      s"CREATE TABLE $t USING parquet AS" +
        " SELECT /*+ REPARTITION_BY_RANGE(8, d) */ * FROM (" +
        " SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, o_totalprice" +
        " FROM orders)")
    try {
      val total = spark.table(t).count()
      val hit = spark.table(t).filter(
        "d >= DATE '1996-01-01' AND d < DATE '1996-04-01'").count()
      assert(hit > 0, "fixture window must contain rows")
      val stats = Engine.sql(spark,
        s"DELETE FROM $t WHERE d >= DATE '1996-01-01'" +
          " AND d < DATE '1996-04-01'").collect()(0)
      assert(stats.getLong(1) >= 1 && stats.getLong(1) < stats.getLong(0),
        s"expected a partial DATE prune: ${stats.mkString(",")}")
      assert(spark.table(t).count() == total - hit,
        "pruned DATE DELETE must remove exactly the predicate's rows")
      // string-literal spelling against the DATE column prunes too
      val stats2 = Engine.sql(spark,
        s"DELETE FROM $t WHERE d < '1995-06-01'").collect()(0)
      assert(stats2.getLong(1) < stats2.getLong(0),
        s"one-sided string DATE bound must prune: ${stats2.mkString(",")}")
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  test("CREATE MACRO routes as a plan-time-expanded function") {
    Engine.exec(spark, "CREATE MACRO engine_spec_m1(a, b) AS a * 10 + b")
    val r = Engine.sql(spark,
      "SELECT engine_spec_m1(4, 2) AS v, engine_spec_m1(0, 7) AS w")
      .collect()(0)
    assert((r.getInt(0), r.getInt(1)) == ((42, 7)))
    // macro args are EXPRESSIONS (column references included)
    val c = Engine.sql(spark,
      "SELECT engine_spec_m1(id, id) AS v FROM range(3) ORDER BY v")
      .collect().map(_.getLong(0)).toSeq
    assert(c == Seq(0L, 11L, 22L))
    // without OR REPLACE a second definition refuses, like DuckDB
    val dup = intercept[IllegalArgumentException](Engine.sql(spark,
      "CREATE MACRO engine_spec_m1(x) AS x"))
    assert(dup.getMessage.contains("OR REPLACE"))
    // OR REPLACE redefines
    Engine.exec(spark,
      "CREATE OR REPLACE MACRO engine_spec_m1(a, b) AS a - b")
    assert(Engine.sql(spark, "SELECT engine_spec_m1(10, 4) AS v")
      .collect()(0).getInt(0) == 6)
    // wrong arity fails loudly at the call
    assertThrows[Exception](
      Engine.sql(spark, "SELECT engine_spec_m1(1) AS v").collect())
    // DROP MACRO removes it; a second DROP refuses without IF EXISTS
    Engine.exec(spark, "DROP MACRO engine_spec_m1")
    val gone = intercept[IllegalArgumentException](
      Engine.sql(spark, "DROP MACRO engine_spec_m1"))
    assert(gone.getMessage.contains("IF EXISTS"))
    Engine.exec(spark, "DROP MACRO IF EXISTS engine_spec_m1")
  }

  test("CREATE MACRO refusals: table macros, defaults, shadowing") {
    val tbl = intercept[IllegalArgumentException](Engine.sql(spark,
      "CREATE MACRO engine_spec_tm(n) AS TABLE SELECT 1 AS x"))
    assert(tbl.getMessage.contains("VIEW"))
    val dflt = intercept[IllegalArgumentException](Engine.sql(spark,
      "CREATE MACRO engine_spec_dm(a, b := 5) AS a + b"))
    assert(dflt.getMessage.contains("default"))
    // a builtin name refuses without OR REPLACE (protects builtins)
    val bi = intercept[IllegalArgumentException](Engine.sql(spark,
      "CREATE MACRO abs(x) AS x"))
    assert(bi.getMessage.contains("already exists"))
  }

  test("a macro body reads l[1] as DuckDB's first element") {
    Engine.exec(spark, "CREATE MACRO first_of(l) AS l[1]")
    try assert(Engine.sql(spark, "SELECT first_of([7, 8]) AS v")
      .head().getInt(0) == 7)
    finally Engine.exec(spark, "DROP MACRO IF EXISTS first_of")
  }

  test("CREATE MACRO refuses ^ as a SELECT does") {
    // DuckDB 1.0 reads x ^ 2 as power: sq(7) = 49.0, never xor's 5
    val select = intercept[IllegalArgumentException](
      Engine.sql(spark, "SELECT 7 ^ 2")).getMessage
    val e = intercept[IllegalArgumentException](
      Engine.exec(spark, "CREATE MACRO engine_spec_sq(x) AS x ^ 2"))
    assert(e.getMessage == select)
    assert(!spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("engine_spec_sq")))
  }

  test("PREPARE/EXECUTE/DEALLOCATE round-trip with re-binding") {
    Engine.exec(spark,
      "PREPARE engine_spec_p AS SELECT id FROM range(10)" +
        " WHERE id > $1 AND id < $2 ORDER BY id")
    val a = Engine.sql(spark, "EXECUTE engine_spec_p(6, 9)")
      .collect().map(_.getLong(0)).toSeq
    assert(a == Seq(7L, 8L))
    // re-binding the SAME statement with new arguments
    val b = Engine.sql(spark, "EXECUTE engine_spec_p(0, 3)")
      .collect().map(_.getLong(0)).toSeq
    assert(b == Seq(1L, 2L))
    // wrong argument count refuses
    val argc = intercept[IllegalArgumentException](
      Engine.sql(spark, "EXECUTE engine_spec_p(1)"))
    assert(argc.getMessage.contains("argument"))
    Engine.exec(spark, "DEALLOCATE engine_spec_p")
    val gone = intercept[IllegalArgumentException](
      Engine.sql(spark, "EXECUTE engine_spec_p(1, 2)"))
    assert(gone.getMessage.contains("PREPARE"))
    // unknown DEALLOCATE refuses too
    assertThrows[IllegalArgumentException](
      Engine.sql(spark, "DEALLOCATE engine_spec_p"))
  }

  test("bindPrepared: quote-aware, ?-style, and refusal shapes") {
    // $n inside a string literal is TEXT, not a parameter
    assert(Engine.bindPrepared("SELECT '$1' AS s WHERE x > $1", Seq("5"))
      == "SELECT '$1' AS s WHERE x > (5)")
    // ?-style binds positionally; substitution parenthesizes
    assert(Engine.bindPrepared("SELECT ? + ?", Seq("1 + 1", "2"))
      == "SELECT (1 + 1) + (2)")
    // a parameter may repeat — one argument satisfies both sites
    assert(Engine.bindPrepared("SELECT $1 + $1", Seq("3"))
      == "SELECT (3) + (3)")
    // mixed styles refuse
    assertThrows[IllegalArgumentException](
      Engine.bindPrepared("SELECT $1 + ?", Seq("1", "2")))
    // unused arguments refuse (a silently-dropped binding is wrongness)
    assertThrows[IllegalArgumentException](
      Engine.bindPrepared("SELECT $1", Seq("1", "2")))
    // out-of-range index refuses
    assertThrows[IllegalArgumentException](
      Engine.bindPrepared("SELECT $3", Seq("1", "2")))
    // NAMED parameters bind by name, any order, case-insensitive
    assert(Engine.bindPrepared("SELECT $hi - $lo", Nil,
      Map("lo" -> "1", "hi" -> "9")) == "SELECT (9) - (1)")
    // an unbound name and an unused binding both refuse
    assertThrows[IllegalArgumentException](
      Engine.bindPrepared("SELECT $lo", Nil, Map("hi" -> "9")))
    assertThrows[IllegalArgumentException](
      Engine.bindPrepared("SELECT $lo", Nil,
        Map("lo" -> "1", "hi" -> "9")))
    // mixing named and numbered styles refuses
    assertThrows[IllegalArgumentException](
      Engine.bindPrepared("SELECT $1 + $lo", Seq("1"), Map("lo" -> "2")))
    // end to end: EXECUTE with name := value arguments
    Engine.exec(spark,
      "PREPARE engine_spec_pn AS SELECT id FROM range(10)" +
        " WHERE id > $lo AND id < $hi ORDER BY id")
    assert(Engine.sql(spark, "EXECUTE engine_spec_pn(hi := 5, lo := 2)")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))
    val mixed = intercept[IllegalArgumentException](Engine.sql(spark,
      "EXECUTE engine_spec_pn(2, hi := 5)"))
    assert(mixed.getMessage.contains("mixes"))
    Engine.exec(spark, "DEALLOCATE engine_spec_pn")
  }

  test("date_diff text shim renames only quoted-part calls") {
    assert(Engine.rewriteDateDiff(
      "SELECT date_diff('day', a, b), datediff('month', a, b)") ==
      "SELECT graft_date_diff('day', a, b), graft_date_diff('month', a, b)")
    // Spark's identifier-unit spelling and 2-arg datediff untouched
    val keep = "SELECT date_diff(DAY, a, b) + datediff(b, a) FROM t"
    assert(Engine.rewriteDateDiff(keep) == keep)
    // occurrences inside string literals untouched
    val lit = "SELECT 'date_diff(''day'', x, y)' AS s"
    assert(Engine.rewriteDateDiff(lit) == lit)
    // end-to-end: the DuckDB boundary semantics through the router
    val r = Engine.sql(spark,
      "SELECT date_diff('month', DATE '2020-01-31', DATE '2020-02-01')" +
        " AS m").collect()(0)
    assert(r.getLong(0) == 1L)
  }

  test("UNION BY NAME aligns by column name with NULL fill") {
    // names align regardless of position; missing columns NULL-fill;
    // output order is first appearance
    val df = Engine.sql(spark,
      "SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 30 AS b, 40 AS c")
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    val rows = df.collect().map(r =>
      (Option(r.get(0)), r.getInt(1), Option(r.get(2)))).toSet
    assert(rows == Set((Some(1), 2, None), (None, 30, Some(40))))
    // DISTINCT variant dedups
    assert(Engine.sql(spark,
      "SELECT 1 AS a UNION BY NAME SELECT 1 AS a").count() == 1L)
    // a 3-branch chain of the same operator
    assert(Engine.sql(spark,
      "SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS b" +
        " UNION ALL BY NAME SELECT 3 AS c").columns.toSeq ==
      Seq("a", "b", "c"))
    // the trailing ORDER BY/LIMIT applies to the whole union
    val ordered = Engine.sql(spark,
      "SELECT 2 AS a UNION ALL BY NAME SELECT 1 AS a ORDER BY a LIMIT 1")
      .collect()
    assert(ordered.length == 1 && ordered(0).getInt(0) == 1)
    // mixed ALL/DISTINCT by-name chains refuse
    val e = intercept[IllegalArgumentException](Engine.sql(spark,
      "SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS a" +
        " UNION BY NAME SELECT 3 AS a"))
    assert(e.getMessage.contains("mixing"))
    // a plain UNION (no BY NAME) is untouched by the shim
    assert(Engine.sql(spark,
      "SELECT 1 AS a UNION ALL SELECT 2 AS a").count() == 2L)
  }

  test("COPY TO (PARTITION_BY ...) writes a hive-partitioned export") {
    val dir = java.nio.file.Files.createTempDirectory("cpy_part").toString
    Engine.sql(spark,
      s"COPY (SELECT id, CAST(id % 3 AS INT) AS bucket FROM range(30))" +
        s" TO '$dir/out' (FORMAT parquet, PARTITION_BY (bucket))")
    // hive-style col=value directory per key, like DuckDB's write
    val subdirs = new java.io.File(s"$dir/out").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(subdirs == Seq("bucket=0", "bucket=1", "bucket=2"), subdirs)
    // the read restores partition columns and every row
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 30L &&
      back.columns.toSet == Set("id", "bucket"))
    // a downstream filter on the key prunes by DIRECTORY
    val plan = back.filter("bucket = 1").queryExecution
      .executedPlan.toString
    assert(back.filter("bucket = 1").count() == 10L)
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"), plan)
    // PARTITION_BY on the read direction refuses (auto-discovery owns it)
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      s"COPY sometable FROM '$dir/out' (FORMAT parquet," +
        " PARTITION_BY (bucket))"))
    // an absent partition column refuses
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      s"COPY (SELECT 1 AS a) TO '$dir/bad'" +
        " (FORMAT parquet, PARTITION_BY (nope))"))
  }

  test("COPY TO (COMPRESSION ...) passes the codec to the writer") {
    val dir = java.nio.file.Files.createTempDirectory("cpy_cmp").toString
    Engine.sql(spark,
      s"COPY (SELECT id FROM range(100)) TO '$dir/z'" +
        " (FORMAT parquet, COMPRESSION zstd)")
    val parts = new java.io.File(s"$dir/z").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq
    assert(parts.nonEmpty && parts.forall(_.contains(".zstd.")), parts)
    assert(spark.read.parquet(s"$dir/z").count() == 100L)
    // composes with PARTITION_BY
    Engine.sql(spark,
      s"COPY (SELECT id, CAST(id % 2 AS INT) AS b FROM range(10))" +
        s" TO '$dir/pz' (FORMAT parquet, PARTITION_BY (b)," +
        " COMPRESSION gzip)")
    assert(spark.read.parquet(s"$dir/pz").count() == 10L)
    // an unknown codec fails loudly, never writes a different file
    assertThrows[Exception](Engine.sql(spark,
      s"COPY (SELECT 1 AS a) TO '$dir/bad'" +
        " (FORMAT parquet, COMPRESSION nonsense)"))
    // the read direction refuses (codec auto-detected on read)
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      s"COPY sometable FROM '$dir/z' (FORMAT parquet, COMPRESSION zstd)"))
  }

  test("macros compose: a macro body may call another macro") {
    Engine.exec(spark, "CREATE OR REPLACE MACRO engine_spec_base(x)" +
      " AS x * 10")
    Engine.exec(spark, "CREATE OR REPLACE MACRO engine_spec_outer(a, b)" +
      " AS engine_spec_base(a) + b")
    assert(Engine.sql(spark, "SELECT engine_spec_outer(4, 2) AS v")
      .collect()(0).getInt(0) == 42)
    // a PREPAREd statement may call a macro too — the routes compose
    Engine.exec(spark,
      "PREPARE engine_spec_pm AS SELECT engine_spec_outer($1, $2) AS v")
    assert(Engine.sql(spark, "EXECUTE engine_spec_pm(1, 5)")
      .collect()(0).getInt(0) == 15)
    Engine.exec(spark, "DEALLOCATE engine_spec_pm")
    Engine.exec(spark, "DROP MACRO engine_spec_outer")
    Engine.exec(spark, "DROP MACRO engine_spec_base")
  }

  test("RETURNING: old values on DELETE, new on UPDATE, landed on INSERT") {
    val t = s"engine_spec_ret_p${ProcessHandle.current.pid}"
    Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
    Engine.exec(spark,
      s"CREATE TABLE $t AS SELECT CAST(id AS BIGINT) AS k," +
        " CAST(id * 10.0 AS DOUBLE) AS v FROM range(5)")
    try {
      // INSERT returns the LANDED rows — positionally bound and cast
      // to the target's types (the int literal lands as BIGINT/DOUBLE)
      val ins = Engine.sql(spark,
        s"INSERT INTO $t VALUES (9, 90) RETURNING k, v").collect()
      assert(ins.length == 1 &&
        ins(0).getLong(0) == 9L && ins(0).getDouble(1) == 90.0)
      assert(spark.table(t).count() == 6L, "the insert itself landed")
      // UPDATE returns the matched rows' NEW values
      val upd = Engine.sql(spark,
        s"UPDATE $t SET v = v + 1 WHERE k = 2 RETURNING k, v").collect()
      assert(upd.length == 1 && upd(0).getDouble(1) == 21.0)
      assert(spark.table(t).filter("k = 2").collect()(0)
        .getDouble(1) == 21.0)
      // DELETE returns the victims' OLD values (snapshotted before the
      // files are rewritten), expressions allowed
      val del = Engine.sql(spark,
        s"DELETE FROM $t WHERE k >= 4 RETURNING k * 100 AS kk").collect()
      assert(del.map(_.getLong(0)).sorted.toSeq == Seq(400L, 900L))
      assert(spark.table(t).count() == 4L)
      // a SUBSET column list NULL-fills the rest (DuckDB's behavior)
      // and RETURNING * sees the full landed row
      val sub = Engine.sql(spark,
        s"INSERT INTO $t (k) VALUES (77) RETURNING *").collect()
      assert(sub.length == 1 && sub(0).getLong(0) == 77L &&
        sub(0).isNullAt(1))
      assert(spark.table(t).filter("k = 77").collect()(0).isNullAt(1))
      // a scalar subquery over the TARGET is not a literal-only source:
      // RETURNING reports the key that landed, not one re-read after it
      val landed = Engine.sql(spark,
        s"INSERT INTO $t SELECT (SELECT max(k) + 1 FROM $t), 0.5 RETURNING *")
        .collect()
      assert(landed.length == 1 && landed(0).getLong(0) == 78L)
      assert(spark.table(t).filter("k = 78").count() == 1L)
      assert(spark.table(t).filter("k = 79").count() == 0L)
      // join-DML and ON CONFLICT forms refuse loudly
      assertThrows[IllegalArgumentException](Engine.sql(spark,
        s"INSERT INTO $t VALUES (1, 1) ON CONFLICT (k) DO NOTHING" +
          " RETURNING k"))
      assertThrows[IllegalArgumentException](Engine.sql(spark,
        s"DELETE FROM $t USING $t WHERE 1=1 RETURNING k"))
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  test("GLOB rewrites to an anchored case-sensitive RLIKE") {
    assert(Engine.globToRegex("a*b?c") == "a.*b.c")
    assert(Engine.globToRegex("x[0-9]y[!ab]") == "x[0-9]y[^ab]")
    assert(Engine.globToRegex("a.b(c)+") == "a\\.b\\(c\\)\\+")
    val r = Engine.sql(spark,
      "SELECT x, CAST(x GLOB 'a*' AS INT) AS g," +
        " CAST(x NOT GLOB '?b' AS INT) AS ng FROM VALUES" +
        " ('ab'), ('Ab'), ('axx') v(x) ORDER BY x").collect()
      .map(row => (row.getString(0), row.getInt(1), row.getInt(2)))
    // case-sensitive whole-string: 'Ab' does not match 'a*' but DOES
    // match '?b' (any single char + b), so its NOT GLOB is false too
    assert(r.toSeq == Seq(("Ab", 0, 0), ("ab", 1, 0), ("axx", 1, 1)))
    // GLOB inside a string literal is text, not a predicate
    assert(Engine.sql(spark, "SELECT 'x GLOB y' AS s").collect()(0)
      .getString(0) == "x GLOB y")
  }

  test("CREATE TEMP TABLE routes as a materialized writable table") {
    Engine.exec(spark, "DROP TABLE IF EXISTS engine_spec_ttab")
    Engine.runScript(spark,
      """CREATE TEMP TABLE engine_spec_ttab AS SELECT 1 AS x;
        |INSERT INTO engine_spec_ttab VALUES (2);
        |UPDATE engine_spec_ttab SET x = 10 WHERE x = 1;""".stripMargin)
    try {
      assert(spark.table("engine_spec_ttab").collect()
        .map(_.getInt(0)).sorted.toSeq == Seq(2, 10))
      // OR REPLACE takes the safe swap route
      Engine.exec(spark,
        "CREATE OR REPLACE TEMPORARY TABLE engine_spec_ttab AS" +
          " SELECT 7 AS y")
      assert(spark.table("engine_spec_ttab").columns.toSeq == Seq("y"))
    } finally Engine.exec(spark, "DROP TABLE IF EXISTS engine_spec_ttab")
  }

  test("read_csv columns= binds the explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("csvcols")
    java.nio.file.Files.writeString(dir.resolve("d.csv"), "1,x\n2,y\n")
    // names and types come from columns=, not inference; header
    // defaults FALSE with an explicit schema (first line is DATA)
    val df = Engine.sql(spark,
      s"SELECT * FROM read_csv('$dir/d.csv'," +
        " columns={'k': 'BIGINT', 's': 'VARCHAR'})")
    assert(df.columns.toSeq == Seq("k", "s"))
    assert(df.schema("k").dataType.sql == "BIGINT")
    assert(df.count() == 2L)
    // unknown type names refuse loudly (never guess a schema)
    val e = intercept[IllegalArgumentException](Engine.sql(spark,
      s"SELECT * FROM read_csv('$dir/d.csv'," +
        " columns={'k': 'FANCYTYPE'})"))
    assert(e.getMessage.contains("not mapped"))
    // columns= is a csv option; other formats refuse
    assertThrows[IllegalArgumentException](Engine.sql(spark,
      s"SELECT * FROM read_parquet('$dir/d.csv'," +
        " columns={'k': 'BIGINT'})"))
  }

  test("ALTER TABLE DROP/RENAME COLUMN rewrite files and follow schema") {
    val t = s"engine_spec_alt_p${ProcessHandle.current.pid}"
    Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
    Engine.exec(spark,
      s"CREATE TABLE $t AS SELECT CAST(id AS BIGINT) AS k," +
        " CAST(id * 2.0 AS DOUBLE) AS v, 'x' AS tag FROM range(6)")
    try {
      Engine.sql(spark, s"ALTER TABLE $t DROP COLUMN tag")
      assert(spark.table(t).columns.toSeq == Seq("k", "v"))
      // the DATA survived the rewrite
      assert(spark.table(t).agg(org.apache.spark.sql.functions
        .sum("v")).collect()(0).getDouble(0) == 30.0)
      Engine.sql(spark, s"ALTER TABLE $t RENAME COLUMN v TO val")
      assert(spark.table(t).columns.toSeq == Seq("k", "val"))
      assert(spark.table(t).filter("val = 10.0").count() == 1L)
      // DuckDB's singular ADD COLUMN spelling, null-filled
      Engine.sql(spark, s"ALTER TABLE $t ADD COLUMN note VARCHAR")
      assert(spark.table(t).filter("note IS NULL").count() == 6L)
      // refusals: unknown column, duplicate target, last column, DEFAULT
      assertThrows[IllegalArgumentException](
        Engine.sql(spark, s"ALTER TABLE $t DROP COLUMN nope"))
      assert(Engine.sql(spark,
        s"ALTER TABLE $t DROP COLUMN IF EXISTS nope").count() == 0L)
      assertThrows[IllegalArgumentException](
        Engine.sql(spark, s"ALTER TABLE $t RENAME COLUMN k TO val"))
      assertThrows[IllegalArgumentException](Engine.sql(spark,
        s"ALTER TABLE $t ADD COLUMN d2 INTEGER DEFAULT 5"))
      // Spark's own plural spelling still passes through
      Engine.exec(spark, s"ALTER TABLE $t ADD COLUMNS (extra INT)")
      assert(spark.table(t).columns.contains("extra"))
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  test("ATTACH/DETACH refuse with the working alternative named") {
    val e = intercept[IllegalArgumentException](
      Engine.sql(spark, "ATTACH 'other.db' AS other"))
    assert(e.getMessage.contains("IMPORT DATABASE"))
    val d = intercept[IllegalArgumentException](
      Engine.sql(spark, "DETACH other"))
    assert(d.getMessage.contains("single"))
  }

  test("dollar-quoted strings convert with quote-safe bodies") {
    val r = Engine.sql(spark,
      "SELECT $$abc'def$$ AS a, $q$it's $$ here$q$ AS b").collect()(0)
    assert(r.getString(0) == "abc'def" && r.getString(1) == "it's $$ here")
    // a $$ inside a normal literal is shielded text, not an opener
    assert(Engine.sql(spark, "SELECT '$$x$$' AS a").collect()(0)
      .getString(0) == "$$x$$")
    // $1/$name parameters never match the opener grammar
    assert(Engine.rewriteDollarQuotes("SELECT $1 + 1, $name") ==
      "SELECT $1 + 1, $name")
    val e = intercept[IllegalArgumentException](
      Engine.sql(spark, "SELECT $$never closed AS a"))
    assert(e.getMessage.contains("unterminated"))
  }

  test("trailing commas drop before FROM, ), ], and end") {
    assert(Engine.sql(spark,
      "SELECT 1 AS a, 2 AS b, FROM (VALUES (0)) t(z)").columns.toSeq ==
      Seq("a", "b"))
    assert(Engine.sql(spark, "SELECT named_struct('a', 1,) AS r")
      .collect()(0).getStruct(0).getInt(0) == 1)
    // a comma inside a string literal is content, not syntax
    assert(Engine.sql(spark, "SELECT 'a,' AS r FROM (VALUES (0)) t(z)")
      .collect()(0).getString(0) == "a,")
  }

  test("python-style lambdas rewrite to arrow form") {
    assert(Engine.sql(spark,
      "SELECT list_transform(array(1,2), lambda x: x + 1) AS r")
      .collect()(0).getSeq[Int](0) == Seq(2, 3))
    assert(Engine.sql(spark,
      "SELECT reduce(array(1,2,3), 0, lambda acc, x: acc + x) AS r")
      .collect()(0).getInt(0) == 6)
    // a column legally named lambda is untouched (no ident+colon follows)
    assert(Engine.rewriteLambdaSyntax("SELECT lambda FROM t") ==
      "SELECT lambda FROM t")
  }

  test("inline aggregate ORDER BY routes per family") {
    val r = Engine.sql(spark,
      """SELECT string_agg(m, ',' ORDER BY a DESC, m DESC) AS sa,
        |  first(m ORDER BY a) AS f, last(m ORDER BY a) AS l,
        |  array_agg(m ORDER BY a DESC) AS arr,
        |  sum(a ORDER BY a) AS s
        |FROM (VALUES (1,'x'),(2,'c'),(3,'q')) t(a,m)""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "q,c,x" && r.getString(1) == "x" &&
      r.getString(2) == "q" && r.getSeq[String](3) == Seq("q", "c", "x") &&
      r.getLong(4) == 6L)
    // refusals: mixed directions, DISTINCT outside string_agg,
    // non-default NULLS, an order-sensitive aggregate with no route
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "SELECT array_agg(a ORDER BY a ASC, b DESC) FROM t")).getMessage
      .contains("mixed"))
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "SELECT first(DISTINCT a ORDER BY a) FROM t")).getMessage
      .contains("DISTINCT"))
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "SELECT first(a ORDER BY b NULLS FIRST) FROM t")).getMessage
      .contains("NULLS"))
    // subquery and window ORDER BYs never match the agg route
    assert(Engine.rewriteAggOrderBy(
      "SELECT a, rank() OVER (ORDER BY a) FROM (SELECT a FROM t ORDER BY a) q")
      == "SELECT a, rank() OVER (ORDER BY a) FROM (SELECT a FROM t ORDER BY a) q")
  }

  test("list comprehensions rewrite to transform/filter; nesting works") {
    assert(Engine.sql(spark,
      "SELECT [x + 1 FOR x IN [1,2,3] IF x > 1] AS r")
      .collect()(0).getSeq[Int](0) == Seq(3, 4))
    assert(Engine.sql(spark,
      "SELECT [y * 10 FOR y IN [x + 1 FOR x IN [1,2,3] IF x > 1]] AS r")
      .collect()(0).getSeq[Int](0) == Seq(30, 40))
    // subscripts keep the bracket-adjacency rule, 1-based as in DuckDB
    assert(Engine.sql(spark, "SELECT array(7,8)[1] AS r")
      .collect()(0).getInt(0) == 7)
  }

  test("TRUNCATE without TABLE routes; table stays writable") {
    Engine.runScript(spark,
      """DROP TABLE IF EXISTS engine_trunc_t;
        |CREATE TEMP TABLE engine_trunc_t AS SELECT 1 AS a;
        |TRUNCATE engine_trunc_t;
        |INSERT INTO engine_trunc_t VALUES (7);""".stripMargin)
    assert(Engine.sql(spark, "SELECT sum(a) AS s FROM engine_trunc_t")
      .collect()(0).getLong(0) == 7L)
    Engine.exec(spark, "DROP TABLE IF EXISTS engine_trunc_t")
  }

  test("SHOW ALL TABLES emits DuckDB's column shape") {
    Engine.exec(spark,
      "CREATE OR REPLACE TEMPORARY VIEW show_all_probe AS SELECT 1 AS x")
    val df = Engine.sql(spark, "SHOW ALL TABLES")
    assert(df.columns.toSeq == Seq("database", "schema", "name",
      "column_names", "column_types", "temporary"))
    val row = df.collect().find(_.getString(2) == "show_all_probe").get
    assert(row.getSeq[String](3) == Seq("x") && row.getBoolean(5))
  }

  test("USE memory/main no-op; sequences refuse with the scale answer") {
    assert(Engine.sql(spark, "USE memory").collect().isEmpty)
    assert(Engine.sql(spark, "USE main").collect().isEmpty)
    val e = intercept[IllegalArgumentException](
      Engine.sql(spark, "CREATE SEQUENCE ids START 1"))
    assert(e.getMessage.contains("row_number"))
    assert(intercept[IllegalArgumentException](
      Engine.sql(spark, "DROP SEQUENCE ids")).getMessage
      .contains("SEQUENCE"))
  }

  test("// routes to DIV; ^ and ** refuse naming power()") {
    val r = Engine.sql(spark, "SELECT 7 // 2 AS a, (-7) // 2 AS b")
      .collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == -3L)
    assert(intercept[IllegalArgumentException](
      Engine.sql(spark, "SELECT 2 ^ 10")).getMessage.contains("power"))
    assert(intercept[IllegalArgumentException](
      Engine.sql(spark, "SELECT 2 ** 3")).getMessage.contains("power"))
    // shielded occurrences never trigger
    assert(Engine.sql(spark, "SELECT '2 ^ 3 ** 4 // 5' AS s")
      .collect()(0).getString(0) == "2 ^ 3 ** 4 // 5")
  }

  test("dow/isodow fields match DuckDB's numbering") {
    val r = Engine.sql(spark,
      """SELECT EXTRACT(dow FROM DATE '2024-01-15') AS m,
        |  EXTRACT(dow FROM DATE '2024-01-14') AS s,
        |  EXTRACT(isodow FROM DATE '2024-01-15') AS mi,
        |  EXTRACT(isodow FROM DATE '2024-01-14') AS si,
        |  date_part('dow', DATE '2024-01-15') AS dp,
        |  date_part('isodow', DATE '2024-01-14') AS dpi""".stripMargin)
      .collect()(0)
    // DuckDB (measured): dow Sunday=0, Monday=1; isodow Monday=1, Sunday=7
    assert(r.getInt(0) == 1 && r.getInt(1) == 0 &&
      r.getInt(2) == 1 && r.getInt(3) == 7 &&
      r.getInt(4) == 1 && r.getInt(5) == 7)
    // a column legally named dow inside the FROM-expression is untouched
    assert(Engine.sql(spark,
      "SELECT EXTRACT(isodow FROM dow) AS r FROM" +
        " (SELECT DATE '2024-01-15' AS dow) t").collect()(0).getInt(0) == 1)
  }

  test("list slicing carries DuckDB's 1-based inclusive semantics") {
    val r = Engine.sql(spark,
      """SELECT [10,20,30,40][2:3] AS a, [10,20,30][2:] AS b,
        |  [10,20,30][:2] AS c, [10,20,30][:] AS d,
        |  [10,20,30][2:9] AS e, [10,20,30][2:1] AS f,
        |  split('a b c d', ' ')[2:3] AS g""".stripMargin).collect()(0)
    assert(r.getSeq[Int](0) == Seq(20, 30) && r.getSeq[Int](1) == Seq(20, 30))
    assert(r.getSeq[Int](2) == Seq(10, 20) &&
      r.getSeq[Int](3) == Seq(10, 20, 30))
    assert(r.getSeq[Int](4) == Seq(20, 30) && r.getSeq[Int](5).isEmpty)
    assert(r.getSeq[String](6) == Seq("b", "c"))
    // subscripts are 1-based as in DuckDB; :: casts inside a subscript
    // never read as a slice; negative bounds count from the end
    assert(Engine.sql(spark, "SELECT array(1,2)['1'::INT] AS r")
      .collect()(0).getInt(0) == 1)
    assert(Engine.sql(spark, "SELECT [1,2,3][-2:-1] AS r")
      .collect()(0).getSeq[Int](0) == Seq(2, 3))
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "SELECT [1,2,3][1:3:2]")).getMessage.contains("step"))
  }

  test("MAP literals route to the map constructor") {
    val r = Engine.sql(spark,
      "SELECT map_keys(MAP {'a': 1, 'b': 2}) AS k," +
        " map_values(MAP {'x': [1,2], 'y': [3]}) AS v, MAP {} AS e")
      .collect()(0)
    assert(r.getSeq[String](0) == Seq("a", "b"))
    assert(r.getSeq[scala.collection.Seq[Int]](1).toSeq
      .map(_.toSeq) == Seq(Seq(1, 2), Seq(3)))
    assert(r.getMap[String, Int](2).isEmpty)
  }

  test("DuckDB type names map at cast sites; Spark spellings untouched") {
    val r = Engine.sql(spark,
      "SELECT 42::TEXT AS a, 42::VARCHAR AS b, '1.5'::FLOAT8 AS c," +
        " CAST(7 AS TEXT) AS d, CAST(array(1,2) AS BIGINT[]) AS e," +
        " CAST(CAST(7 AS TEXT) AS INTEGER) AS f").collect()(0)
    assert(r.getString(0) == "42" && r.getString(1) == "42" &&
      r.getDouble(2) == 1.5 && r.getString(3) == "7" &&
      r.getSeq[Long](4) == Seq(1L, 2L) && r.getInt(5) == 7)
    // VARCHAR(n) / DECIMAL(p,s) are Spark-valid and pass through
    // (Spark's cast treats varchar(n) as string — no truncation)
    assert(Engine.sql(spark,
      "SELECT CAST('xyz' AS VARCHAR(2)) AS a").collect()(0)
      .getString(0) == "xyz")
    // :: inside a string literal is content
    assert(Engine.sql(spark, "SELECT '[1]::TEXT' AS s").collect()(0)
      .getString(0) == "[1]::TEXT")
  }

  test("CREATE TABLE column lists map types; constraints refuse") {
    Engine.runScript(spark,
      """DROP TABLE IF EXISTS engine_ct;
        |CREATE TABLE engine_ct (a INTEGER, b TEXT, d TIMESTAMPTZ,
        |  e INTEGER[], f DOUBLE NOT NULL);
        |INSERT INTO engine_ct VALUES
        |  (1, 'x', TIMESTAMP '2024-01-01 00:00:00', array(1,2), 1.5);"""
        .stripMargin)
    val sch = spark.table("engine_ct").schema
    assert(sch.fields.map(_.dataType.sql).toSeq ==
      Seq("INT", "STRING", "TIMESTAMP", "ARRAY<INT>", "DOUBLE"))
    Engine.exec(spark, "DROP TABLE IF EXISTS engine_ct")
    // PRIMARY KEY is ACCEPTED since round 19 (registered + enforced —
    // see the dedicated PK tests); the unenforced constraints refuse
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "CREATE TABLE pk2 (a INTEGER, b TEXT UNIQUE)")).getMessage
      .contains("constraint"))
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "CREATE TABLE pk3 (a INTEGER, CHECK (a > 0))")).getMessage
      .contains("constraint"))
  }

  test("PRIMARY KEY registers, enforces, and routes OR REPLACE/IGNORE") {
    Engine.runScript(spark,
      """DROP TABLE IF EXISTS engine_pk;
        |CREATE TABLE engine_pk (k BIGINT PRIMARY KEY, v TEXT);
        |INSERT INTO engine_pk VALUES (1, 'a'), (2, 'b');"""
        .stripMargin)
    // plain INSERT: existing-key, in-batch-dup, and NULL-key refusals
    // (all measured DuckDB behaviors), each BEFORE any write
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO engine_pk VALUES (1, 'x')")).getMessage
      .contains("PRIMARY KEY"))
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO engine_pk VALUES (3, 'c'), (3, 'd')")).getMessage
      .contains("PRIMARY KEY"))
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO engine_pk VALUES (NULL, 'n')")).getMessage
      .contains("NULL"))
    assert(Engine.sql(spark,
      "SELECT count(*) FROM engine_pk").head().getLong(0) == 2,
      "a refused statement must land nothing")
    // OR REPLACE upserts on the registered key; OR IGNORE drops
    // conflicting incoming rows; both refuse in-batch duplicates
    Engine.sql(spark,
      "INSERT OR REPLACE INTO engine_pk VALUES (1, 'A'), (3, 'c')")
    Engine.sql(spark,
      "INSERT OR IGNORE INTO engine_pk VALUES (2, 'zz'), (4, 'd')")
    assert(Engine.sql(spark,
      "SELECT k, v FROM engine_pk ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT OR REPLACE INTO engine_pk VALUES (5, 'e'), (5, 'f')"))
      .getMessage.contains("PRIMARY KEY"))
    // UPDATE minting a duplicate key refuses; a clean key move works
    assert(intercept[Exception](Engine.sql(spark,
      "UPDATE engine_pk SET k = 1 WHERE k = 4")).getMessage
      .contains("PRIMARY KEY"))
    Engine.sql(spark, "UPDATE engine_pk SET k = 40 WHERE k = 4")
    assert(Engine.sql(spark,
      "SELECT max(k) FROM engine_pk").head().getLong(0) == 40L)
    // ALTER guards: a key column cannot drop; a rename follows
    assert(intercept[Exception](Engine.sql(spark,
      "ALTER TABLE engine_pk DROP COLUMN k")).getMessage
      .contains("PRIMARY KEY"))
    Engine.sql(spark, "ALTER TABLE engine_pk RENAME COLUMN k TO kk")
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO engine_pk VALUES (1, 'dup')")).getMessage
      .contains("PRIMARY KEY"), "the registry follows the rename")
    // re-creating the table WITHOUT a key retires the registry entry:
    // the duplicate now lands (Spark-native path, no phantom constraint)
    Engine.runScript(spark,
      """DROP TABLE IF EXISTS engine_pk;
        |CREATE TABLE engine_pk (k BIGINT, v TEXT);
        |INSERT INTO engine_pk VALUES (1, 'a'), (1, 'b');""".stripMargin)
    assert(Engine.sql(spark,
      "SELECT count(*) FROM engine_pk").head().getLong(0) == 2)
    // a PK-less table still refuses the shorthand, naming ON CONFLICT
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT OR REPLACE INTO engine_pk VALUES (1, 'x')")).getMessage
      .contains("ON CONFLICT"))
    Engine.exec(spark, "DROP TABLE IF EXISTS engine_pk")
    // the named-constraint and composite table-level spellings register
    Engine.runScript(spark,
      """DROP TABLE IF EXISTS engine_pk2;
        |CREATE TABLE engine_pk2 (a BIGINT, b TEXT, v DOUBLE,
        |  CONSTRAINT pk2 PRIMARY KEY (a, b));
        |INSERT INTO engine_pk2 VALUES (1, 'x', 0.5), (1, 'y', 0.5);"""
        .stripMargin)
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO engine_pk2 VALUES (1, 'x', 9.9)")).getMessage
      .contains("PRIMARY KEY"), "composite key must enforce")
    Engine.sql(spark,
      "INSERT OR IGNORE INTO engine_pk2 VALUES (1, 'x', 9.9), (2, 'z', 1.0)")
    assert(Engine.sql(spark,
      "SELECT count(*) FROM engine_pk2").head().getLong(0) == 3)
    Engine.exec(spark, "DROP TABLE IF EXISTS engine_pk2")
  }

  test("PK registry survives failed/no-op DDL; quoted + qualified inserts enforce") {
    Engine.runScript(spark,
      """DROP TABLE IF EXISTS engine_pk3;
        |CREATE TABLE engine_pk3 (k BIGINT PRIMARY KEY, v TEXT);
        |INSERT INTO engine_pk3 VALUES (1, 'a');""".stripMargin)
    // a FAILED CREATE TABLE (name exists, no OR REPLACE) must not
    // disarm the surviving table's constraint
    intercept[Exception](Engine.sql(spark,
      "CREATE TABLE engine_pk3 (x INT)"))
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO engine_pk3 VALUES (1, 'dup')")).getMessage
      .contains("PRIMARY KEY"), "failed CREATE must not retire the key")
    // CREATE TABLE IF NOT EXISTS on the existing table is a catalog
    // no-op — the registration stays put
    Engine.sql(spark, "CREATE TABLE IF NOT EXISTS engine_pk3 (x INT)")
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO engine_pk3 VALUES (1, 'dup')")).getMessage
      .contains("PRIMARY KEY"), "IF NOT EXISTS no-op must not retire")
    // a CREATE VIEW colliding with the keyed table's name (refused by
    // the catalog) must not touch the TABLE's registration either
    intercept[Exception](Engine.sql(spark,
      "CREATE VIEW engine_pk3 AS SELECT 1 AS x"))
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO engine_pk3 VALUES (1, 'dup')")).getMessage
      .contains("PRIMARY KEY"), "CREATE VIEW must never retire a table key")
    // backquoted and db-qualified spellings reach the SAME enforcement
    // (a miss here would silently append via the native path)
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO `engine_pk3` VALUES (1, 'dup')")).getMessage
      .contains("PRIMARY KEY"))
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO default.engine_pk3 VALUES (1, 'dup')")).getMessage
      .contains("PRIMARY KEY"))
    Engine.sql(spark,
      "INSERT OR IGNORE INTO `engine_pk3` VALUES (1, 'x'), (2, 'b')")
    assert(Engine.sql(spark,
      "SELECT count(*) FROM engine_pk3").head().getLong(0) == 2)
    // CREATE OR REPLACE TABLE with a NEW key: the constraint follows
    // the swap-rename onto the real name (not the build name)
    Engine.sql(spark,
      "CREATE OR REPLACE TABLE engine_pk3 (id BIGINT PRIMARY KEY, w TEXT)")
    Engine.sql(spark, "INSERT INTO engine_pk3 VALUES (7, 'a')")
    assert(intercept[Exception](Engine.sql(spark,
      "INSERT INTO engine_pk3 VALUES (7, 'b')")).getMessage
      .contains("PRIMARY KEY"), "the key must follow OR REPLACE's rename")
    // CREATE OR REPLACE TABLE withOUT a key retires the old entry
    Engine.sql(spark,
      "CREATE OR REPLACE TABLE engine_pk3 (id BIGINT, w TEXT)")
    Engine.runScript(spark,
      "INSERT INTO engine_pk3 VALUES (7, 'a');" +
        "INSERT INTO engine_pk3 VALUES (7, 'b');")
    assert(Engine.sql(spark,
      "SELECT count(*) FROM engine_pk3").head().getLong(0) == 2,
      "a keyless replacement must stop enforcing")
    Engine.exec(spark, "DROP TABLE IF EXISTS engine_pk3")
  }

  test("MATERIALIZED CTE hints strip; ARRAY[...] constructs") {
    assert(Engine.sql(spark,
      "WITH x AS MATERIALIZED (SELECT 1 AS a)," +
        " y AS NOT MATERIALIZED (SELECT 2 AS b)" +
        " SELECT a + b AS r FROM x, y").collect()(0).getInt(0) == 3)
    assert(Engine.sql(spark, "SELECT ARRAY[1,2,3] AS r").collect()(0)
      .getSeq[Int](0) == Seq(1, 2, 3))
  }

  test("battery-3 compat functions: row/epoch/today/struct_extract/week") {
    val r = Engine.sql(spark,
      "SELECT row(1, 'x') AS r, epoch(TIMESTAMP '2024-01-01 00:00:00') AS e," +
        " today() = current_date AS t," +
        " struct_extract(named_struct('a', 7), 'a') AS s," +
        " week(DATE '2024-01-15') AS w," +
        " dayname(DATE '2024-01-15') AS dn," +
        " monthname(DATE '2024-01-15') AS mn").collect()(0)
    assert(r.getStruct(0).getInt(0) == 1 && r.getBoolean(2) &&
      r.getInt(3) == 7 && r.getInt(4) == 3)
    // DuckDB's FULL names (the builtins abbreviate — shadowed on purpose)
    assert(r.getString(5) == "Monday" && r.getString(6) == "January")
  }

  test("tuple SET assigns pairwise; unknown SET targets refuse") {
    Engine.runScript(spark,
      """DROP TABLE IF EXISTS engine_ut;
        |CREATE TEMP TABLE engine_ut AS SELECT 1 AS a, 2 AS b;
        |UPDATE engine_ut SET (a, b) = (b + 10, a + 20);""".stripMargin)
    val row = spark.table("engine_ut").collect()(0)
    // one-projection semantics: both right-hand sides read the OLD row
    assert(row.getInt(0) == 12 && row.getInt(1) == 21)
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "UPDATE engine_ut SET zz = 9")).getMessage.contains("zz"))
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "UPDATE engine_ut SET (a, b) = (1, 2, 3)")).getMessage
      .contains("pair"))
    Engine.exec(spark, "DROP TABLE IF EXISTS engine_ut")
  }

  test("list_* two-arg lambdas see DuckDB's 1-based index") {
    val r = Engine.sql(spark,
      "SELECT list_filter(array(10,20,30), (x, i) -> i % 2 = 1) AS f," +
        " list_transform(array(10,20,30), (x, i) -> x + i) AS t," +
        " filter(array(10,20,30), (x, i) -> i = 1) AS nf").collect()(0)
    // measured DuckDB: [10,30] and [11,22,33]
    assert(r.getSeq[Int](0) == Seq(10, 30))
    assert(r.getSeq[Int](1) == Seq(11, 22, 33))
    // Spark's NATIVE filter keeps its 0-based index (no shadowing)
    assert(r.getSeq[Int](2) == Seq(20))
  }

  test("bare ORDER BY sorts NULLS LAST (DuckDB's default) at every depth") {
    val vals = "(VALUES (1),(CAST(NULL AS INT)),(2)) t(a)"
    assert(Engine.sql(spark, s"SELECT a FROM $vals ORDER BY a")
      .collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq ==
      Seq(1, 2, -1))
    // DESC already defaults NULLS LAST in Spark — untouched and right
    assert(Engine.sql(spark, s"SELECT a FROM $vals ORDER BY a DESC")
      .collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq ==
      Seq(2, 1, -1))
    // an explicit NULLS FIRST stays the user's choice
    assert(Engine.sql(spark, s"SELECT a FROM $vals ORDER BY a NULLS FIRST")
      .collect()(0).isNullAt(0))
    // window specs get the same default (measured DuckDB: null ranks last)
    assert(Engine.sql(spark,
      s"SELECT a, row_number() OVER (ORDER BY a) rn FROM $vals ORDER BY rn")
      .collect().last.isNullAt(0))
    // a subquery's ORDER BY + LIMIT picks the same rows as DuckDB
    assert(Engine.sql(spark,
      "SELECT * FROM (SELECT a FROM (VALUES (CAST(NULL AS INT)),(1)) t(a)" +
        " ORDER BY a LIMIT 1) q").collect()(0).getInt(0) == 1)
  }

  test("~ / !~ / ~~ operators route; prefix bitwise NOT survives") {
    val r = Engine.sql(spark,
      "SELECT 'abc' ~ 'a.c' AS a, 'abc' ~ 'b' AS b, 'abc' !~ 'x' AS c," +
        " 'abc' ~~ 'ab%' AS d, 'abc' !~~ 'x%' AS e, ~5 AS f").collect()(0)
    // full-match semantics: 'abc' ~ 'b' is FALSE (measured DuckDB)
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2) &&
      r.getBoolean(3) && r.getBoolean(4) && r.getInt(5) == -6)
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "SELECT a !~ b FROM t")).getMessage.contains("regexp_like"))
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "SELECT 'ab' ^@ 'a'")).getMessage.contains("starts_with"))
  }

  test("battery-4 compat: ord/prefix/suffix/format") {
    val r = Engine.sql(spark,
      "SELECT ord('A') AS o, prefix('abc', 'ab') AS p," +
        " suffix('abc', 'bc') AS s, format('{} = {}', 'k', 7) AS f," +
        " format('{0}{0}!', 'x') AS g, format('100%: {}', 1) AS h")
      .collect()(0)
    assert(r.getInt(0) == 65 && r.getBoolean(1) && r.getBoolean(2))
    assert(r.getString(3) == "k = 7" && r.getString(4) == "xx!" &&
      r.getString(5) == "100%: 1")
    assert(intercept[Exception](Engine.sql(spark,
      "SELECT format('{} {0}', 1, 2)").collect()).getMessage
      .contains("mix"))
  }

  test("POSITIONAL JOIN refuses naming the row_number spelling") {
    val e = intercept[IllegalArgumentException](Engine.sql(spark,
      "SELECT * FROM a POSITIONAL JOIN b"))
    assert(e.getMessage.contains("row_number"))
  }

  test("AT TIME ZONE routes: naive→to_utc, chains alternate, literals only") {
    // a naive wall time interpreted in New York, rendered back in UTC:
    // 12:00 EDT (June — daylight) is 16:00 UTC
    assert(Engine.sql(spark,
      "SELECT CAST(TIMESTAMP '2024-06-01 12:00:00'" +
        " AT TIME ZONE 'America/New_York' AT TIME ZONE 'UTC'" +
        " AS TIMESTAMP) AS t").head().get(0).toString
      .startsWith("2024-06-01 16:00"))
    // January (standard time): 12:00 EST is 17:00 UTC
    assert(Engine.sql(spark,
      "SELECT CAST(TIMESTAMP '2024-01-01 12:00:00'" +
        " AT TIME ZONE 'America/New_York' AT TIME ZONE 'UTC'" +
        " AS TIMESTAMP) AS t").head().get(0).toString
      .startsWith("2024-01-01 17:00"))
    // rewrite shape: first application → to_utc, second → from_utc
    val rw = Engine.rewriteAtTimeZone(
      "SELECT ts AT TIME ZONE 'Asia/Tokyo' AT TIME ZONE 'UTC' FROM t")
    assert(rw.contains(
      "from_utc_timestamp(to_utc_timestamp(ts, 'Asia/Tokyo'), 'UTC')"), rw)
    // an instant base (current_timestamp / now()) renders, not re-reads
    assert(Engine.rewriteAtTimeZone(
      "SELECT current_timestamp AT TIME ZONE 'Asia/Tokyo'")
      .contains("from_utc_timestamp(current_timestamp, 'Asia/Tokyo')"))
    // the keyword inside a string literal never triggers
    val shielded = "SELECT 'AT TIME ZONE ''x''' AS s"
    assert(Engine.rewriteAtTimeZone(shielded) == shielded)
    // a computed zone refuses loudly rather than guessing
    assert(intercept[IllegalArgumentException](Engine.sql(spark,
      "SELECT TIMESTAMP '2024-01-01 00:00:00' AT TIME ZONE upper('utc')"))
      .getMessage.contains("literal zone"))
  }

  test("SIMILAR TO with an unterminated pattern is left for Spark's parser") {
    val q = "SELECT 'abc' SIMILAR TO 'abc"
    assert(Engine.rewriteSimilarTo(q) == q)
    assert(Engine.tryQuery(spark, q).isLeft)
  }

  test("GLOB with an unterminated pattern is left for Spark's parser") {
    val q = "SELECT 'abc' GLOB 'a*c"
    assert(Engine.rewriteGlob(q) == q)
    assert(Engine.tryQuery(spark, q).isLeft)
  }

  test("~ and !~ with an unterminated pattern are left for Spark's parser") {
    // not refused as a computed pattern: the pattern IS a literal
    Seq("SELECT 'abc' ~ 'ab", "SELECT 'abc' !~ 'ab").foreach { q =>
      assert(Engine.rewriteTildeMatch(q) == q)
      assert(Engine.tryQuery(spark, q).isLeft)
    }
  }

  test("AT TIME ZONE reads its literals with the shared lexer") {
    assert(intercept[IllegalArgumentException](Engine.rewriteAtTimeZone(
      "SELECT ts AT TIME ZONE 'UTC")).getMessage
      .contains("unterminated zone literal"))
    // a string-literal operand with an escaped quote stays one operand
    assert(Engine.rewriteAtTimeZone("SELECT 'it''s' AT TIME ZONE 'UTC'") ==
      "SELECT to_utc_timestamp('it''s', 'UTC')")
  }

  test("EXPLAIN ANALYZE runs the query and returns the executed plan") {
    val rows = Engine.sql(spark,
      "EXPLAIN ANALYZE SELECT count(*) AS n FROM (VALUES (1),(2)) t(a)")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("analyzed_plan", "total_time"))
    assert(rows(0).getString(1).contains("Physical Plan"))
  }
}
