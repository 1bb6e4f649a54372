package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB function-name aliases resolve to native Catalyst
  * expressions with matching semantics. Cross-engine VALUE parity is
  * certified by the `c_sql_duckdb_*_fns` witnesses; this spec pins the
  * adapter details (literal-separator quoting, %-code translation, the
  * refusal rails) that the hash compare can't attribute. */
class DuckdbCompatSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def one(sql: String): Any =
    spark.sql(sql).collect()(0).get(0)

  test("string_split treats the separator literally, not as a regex") {
    // '.' as a regex would split between every character
    assert(one("SELECT string_split('a.b.c', '.')") ==
      Seq("a", "b", "c"))
    assert(one("SELECT string_split('a|b', '|')") == Seq("a", "b"))
    // computed separators are quoted too (the pattern is spelled per
    // row from the separator's value)
    assert(one("SELECT string_split('x**y', repeat('*', 2))") ==
      Seq("x", "y"))
    // the regex flavor keeps regex semantics
    assert(one("SELECT string_split_regex('a1b22c', '[0-9]+')") ==
      Seq("a", "b", "c"))
  }

  /** A Spark SQL string literal for any text (backslash escapes). */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  test("string_split returns DuckDB 1.0's lists, separator by separator") {
    // (input, separator, DuckDB 1.0's string_split(input, separator))
    val metas = ".$|()[]{}^?*+-".map(c => (s"x${c}y$c${c}z", c.toString,
      Seq("x", "y", "", "z")))
    val cases = Seq(
      ("a b  c", " ", Seq("a", "b", "", "c")),
      (" a ", " ", Seq("", "a", "")),
      ("a\\b\\\\c", "\\", Seq("a", "b", "", "c")),
      ("a--b-c---d", "--", Seq("a", "b-c", "-d")),
      ("a\\Eb\\E", "\\E", Seq("a", "b", "")),
      ("a\\Q.b", "\\Q.", Seq("a", "b")),
      ("a\uD83D\uDE00b", "\uD83D\uDE00", Seq("a", "b")),
      ("abc", "", Seq("a", "b", "c")),
      ("", "", Seq("")),
      ("", " ", Seq("")),
      ("", "--", Seq(""))) ++ metas
    cases.foreach { case (in, sep, want) =>
      assert(one(s"SELECT string_split(${sqlLit(in)}, ${sqlLit(sep)})") ==
        want, s"string_split(${sqlLit(in)}, ${sqlLit(sep)})")
    }
    // NULL input gives NULL; a NULL separator leaves the string whole
    assert(one("SELECT string_split(NULL, ' ')") == null)
    assert(one("SELECT string_split('a b', NULL)") == Seq("a b"))
    assert(one("SELECT string_split(NULL, NULL)") == null)
    assert(one("SELECT string_split('', NULL)") == Seq(""))
    // computed separators, one per row, NULL and '' included
    assert(one("SELECT string_split('aXbXc', upper('x'))") ==
      Seq("a", "b", "c"))
    // over range(), not VALUES, so the generated code runs the per-row call
    val rows = spark.sql("SELECT string_split(s, sep) FROM (SELECT id," +
      " element_at(array('a b', 'a,b', 'a.b', 'abc', 'a--b'), i) AS s," +
      " element_at(array(NULL, ',', '.', '', '--'), i) AS sep" +
      " FROM (SELECT id, CAST(id AS INT) + 1 AS i FROM range(5)))" +
      " ORDER BY id")
      .collect().map(_.getSeq[String](0)).toSeq
    assert(rows == Seq(Seq("a b"), Seq("a", "b"), Seq("a", "b"),
      Seq("a", "b", "c"), Seq("a", "b")))
  }

  test("string_split plans a one-character literal as a fast-path pattern") {
    // String.split skips Pattern compilation for one char, or a `\`
    // and one non-alphanumeric char; the `\Q…\E` form always compiles
    def pattern(sep: String): Any = spark.sql(
      s"SELECT string_split(s, ${sqlLit(sep)}) FROM VALUES ('a') v(s)")
      .queryExecution.analyzed.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.StringSplit =>
          e.regex
      }).head match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
          String.valueOf(v)
        case other => other
      }
    assert(pattern(" ") == " ")
    assert(pattern(",") == ",")
    assert(pattern(".") == "\\.")
    assert(pattern("\\") == "\\\\")
    assert(pattern("--") == "\\Q--\\E")
  }

  test("list family maps to the native array expressions") {
    assert(one("SELECT list_transform(array(1, 2), x -> x * 10)") ==
      Seq(10, 20))
    assert(one("SELECT list_filter(array(1, 2, 3), x -> x > 1)") ==
      Seq(2, 3))
    assert(one("SELECT list_contains(array('a', 'b'), 'b')") == true)
    assert(one("SELECT list_position(array('a', 'b'), 'b')") == 2L)
    // DuckDB parity: absent element is NULL, not Spark's 0
    assert(one("SELECT list_position(array('a', 'b'), 'z')") == null)
    assert(one("SELECT list_distinct(array(1, 1, 2))").
      asInstanceOf[scala.collection.Seq[_]].toSet == Set(1, 2))
    // DuckDB parity: list_distinct drops NULL elements entirely
    assert(one("SELECT list_distinct(array(1, 1, CAST(NULL AS INT)))").
      asInstanceOf[scala.collection.Seq[_]].toSet == Set(1))
    assert(one("SELECT list_sort(array(3, 1, 2))") == Seq(1, 2, 3))
    assert(one("SELECT list_min(array(3, 1))") == 1)
    assert(one("SELECT list_max(array(3, 1))") == 3)
    assert(one("SELECT array_to_string(array('a', 'b'), '-')") == "a-b")
    assert(one("SELECT regexp_matches('abc123', '[0-9]+')") == true)
  }

  test("string/list breadth aliases map to the native expressions") {
    assert(one("SELECT len('abcd')") == 4)
    assert(one("SELECT array_length(array(7, 8, 9))") == 3)
    assert(one("SELECT starts_with('spark', 'sp')") == true)
    assert(one("SELECT ends_with('spark', 'rk')") == true)
    assert(one("SELECT list_append(array(1, 2), 3)") == Seq(1, 2, 3))
    // DuckDB's list_prepend takes (element, list)
    assert(one("SELECT list_prepend(0, array(1, 2))") == Seq(0, 1, 2))
    assert(one("SELECT list_concat(array(1), array(2, 3))") ==
      Seq(1, 2, 3))
    // list_slice is 1-based with an INCLUSIVE end
    assert(one("SELECT list_slice(array(10, 20, 30, 40), 2, 3)") ==
      Seq(20, 30))
    assert(one("SELECT list_value(4, 5)") == Seq(4, 5))
  }

  test("arg_max / arg_min / quantile_cont map to the native aggregates") {
    spark.sql("SELECT * FROM VALUES (1, 10.0), (2, 30.0), (3, 20.0)" +
      " v(k, m)").createOrReplaceTempView("compat_agg")
    val r = spark.sql(
      "SELECT arg_max(k, m), arg_min(k, m), quantile_cont(m, 0.5)" +
        " FROM compat_agg").collect()(0)
    assert(r.getInt(0) == 2 && r.getInt(1) == 1 && r.getDouble(2) == 20.0)
  }

  test("epoch_us / epoch_ms / strftime translate the time spellings") {
    assert(one("SELECT epoch_us(TIMESTAMP '2024-01-01 00:00:01')") ==
      1704067201000000L)
    assert(one("SELECT epoch_ms(TIMESTAMP '2024-01-01 00:00:01.5')") ==
      1704067201500L)
    assert(one("SELECT strftime(TIMESTAMP '2024-03-05 07:08:09'," +
      " '%Y-%m-%d %H:%M:%S')") == "2024-03-05 07:08:09")
    // literal text with letters is quoted, %% is a literal percent
    assert(one("SELECT strftime(TIMESTAMP '2024-03-05 07:08:09'," +
      " 'at %H o''clock (100%%)')") == "at 07 o'clock (100%)")
  }

  test("unnest and generate_series map to explode and Range") {
    assert(spark.sql("SELECT unnest(array('a', 'b')) AS w").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"))
    // inclusive end, all three arities, column-aliased like DuckDB use
    assert(spark.sql("SELECT x FROM generate_series(3) t(x)").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(spark.sql("SELECT x FROM generate_series(2, 5) t(x)").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L, 5L))
    assert(spark.sql("SELECT x FROM generate_series(10, 0, -4) t(x)")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 6L, 2L))
    // the plan is Spark's native Range leaf — no driver materialization
    val plan = spark.sql("SELECT x FROM generate_series(1000000) t(x)")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Range"), plan)
    intercept[Exception](
      spark.sql("SELECT x FROM generate_series(1, 10, 0) t(x)").collect())
  }

  test("list_concat skips NULL inputs like DuckDB; both-NULL is NULL") {
    assert(one("SELECT list_concat(array(1), CAST(NULL AS ARRAY<INT>))") ==
      Seq(1))
    assert(one("SELECT list_concat(CAST(NULL AS ARRAY<INT>), array(2))") ==
      Seq(2))
    assert(one("SELECT list_concat(CAST(NULL AS ARRAY<INT>)," +
      " CAST(NULL AS ARRAY<INT>))") == null)
  }

  test("list_sort defaults to ASC NULLS LAST (DuckDB's default)") {
    assert(one("SELECT list_sort(array(3, NULL, 1))") == Seq(1, 3, null))
    assert(one("SELECT list_sort(array(3, NULL, 1), 'DESC')") ==
      Seq(3, 1, null))
    assert(one("SELECT list_sort(array(3, NULL, 1), 'ASC'," +
      " 'NULLS FIRST')") == Seq(null, 1, 3))
    assert(one("SELECT list_sort(array(3, NULL, 1), 'ASC'," +
      " 'NULLS LAST')") == Seq(1, 3, null))
    intercept[Exception](spark.sql(
      "SELECT list_sort(array(1), 'DESC', 'NULLS FIRST')").collect())
  }

  test("strptime parses with the translated %-codes") {
    assert(one("SELECT CAST(strptime('05/03/2020 04:05:06'," +
      " '%d/%m/%Y %H:%M:%S') AS STRING)") == "2020-03-05 04:05:06")
    val e = intercept[Exception](spark.sql(
      "SELECT strptime('x', concat('%','Y'))").collect())
    assert(e.getMessage.contains("literal format"))
  }

  test("graft_date_diff counts boundaries, date_sub complete intervals") {
    // the DuckDB divergence case: one month BOUNDARY crossed, zero
    // complete months elapsed
    assert(one("SELECT graft_date_diff('month', DATE '2020-01-31'," +
      " DATE '2020-02-01')") == 1L)
    assert(one("SELECT date_sub('month', DATE '2020-01-31'," +
      " DATE '2020-02-01')") == 0L)
    assert(one("SELECT graft_date_diff('day', TIMESTAMP" +
      " '2020-01-01 23:00:00', TIMESTAMP '2020-01-02 01:00:00')") == 1L)
    assert(one("SELECT graft_date_diff('hour', TIMESTAMP" +
      " '2020-01-01 00:59:00', TIMESTAMP '2020-01-01 01:01:00')") == 1L)
    // signed, reversed order
    assert(one("SELECT graft_date_diff('day', DATE '2020-02-01'," +
      " DATE '2020-01-31')") == -1L)
    // Monday-start week boundary (Sun 2020-01-05 -> Mon 2020-01-06)
    assert(one("SELECT graft_date_diff('week', DATE '2020-01-05'," +
      " DATE '2020-01-06')") == 1L)
    // pre-epoch clock parts floor-divide (no truncation toward zero)
    assert(one("SELECT graft_date_diff('hour', TIMESTAMP" +
      " '1969-12-31 23:30:00', TIMESTAMP '1970-01-01 00:30:00')") == 1L)
    // 2-arg passthrough keeps Spark's builtin meaning
    assert(one("SELECT graft_date_diff(DATE '2020-01-03'," +
      " DATE '2020-01-01')") == 2)
    intercept[Exception](spark.sql(
      "SELECT graft_date_diff('fortnight', DATE '2020-01-01'," +
        " DATE '2020-02-01')").collect())
  }

  test("list() keeps NULL elements; histogram skips them, sorts keys") {
    assert(one("SELECT list_sort(list(x)) FROM" +
      " VALUES (3), (NULL), (1) v(x)") == Seq(1, 3, null))
    val h = one("SELECT histogram(x) FROM" +
      " VALUES ('b'), ('a'), (NULL), ('a') v(x)")
      .asInstanceOf[scala.collection.Map[Any, Any]]
    assert(h == Map("a" -> 2L, "b" -> 1L))
    // key-sorted entries (DuckDB's output order)
    assert(one("SELECT map_keys(histogram(x)) FROM" +
      " VALUES ('b'), ('a'), ('c') v(x)") == Seq("a", "b", "c"))
    // numeric keys, grouped
    val rows = spark.sql("SELECT k, histogram(v) FROM VALUES" +
      " (1, 10), (1, 10), (1, 20), (2, 30) t(k, v)" +
      " GROUP BY k ORDER BY k").collect()
    assert(rows(0).getMap[Int, Long](1).toMap == Map(10 -> 2L, 20 -> 1L))
    assert(rows(1).getMap[Int, Long](1).toMap == Map(30 -> 1L))
    // unsupported key types refuse loudly
    val e = intercept[Exception](spark.sql(
      "SELECT histogram(array(1)) FROM VALUES (1) v(x)").collect())
    assert(e.getMessage.toLowerCase.contains("histogram"))
  }

  test("date_add dispatches interval args; list_aggregate maps names") {
    // INTERVAL second argument = DuckDB's add-an-interval form
    assert(one("SELECT CAST(date_add(DATE '2020-01-31'," +
      " INTERVAL 1 MONTH) AS STRING)") == "2020-02-29")
    // plain integer second argument keeps Spark's builtin meaning
    assert(one("SELECT CAST(date_add(DATE '2020-01-01', 3) AS STRING)")
      == "2020-01-04")
    assert(one("SELECT list_aggregate(array(3, 1, 2), 'min')") == 1)
    assert(one("SELECT list_aggregate(array(3, 1, 2), 'max')") == 3)
    // count skips NULL elements, like DuckDB
    assert(one("SELECT list_aggregate(array(3, NULL, 2), 'count')") == 2L)
    assert(one("SELECT list_aggregate(array(1, 2, 3), 'sum')") == 6)
    // sum skips NULLs; an empty/all-NULL list sums to NULL
    assert(one("SELECT list_aggregate(array(1, NULL, 3), 'sum')") == 4)
    assert(one("SELECT list_aggregate(CAST(array() AS ARRAY<INT>)," +
      " 'sum')") == null)
    // doubles sum through the element-typed zero
    assert(one("SELECT list_aggregate(array(1.5D, 2.5D), 'sum')") == 4.0)
    val e = intercept[Exception](spark.sql(
      "SELECT list_aggregate(array(1), 'median')").collect())
    assert(e.getMessage.contains("aggregate("))
  }

  test("list_reduce folds from the first element, as DuckDB 1.0 does") {
    // values measured with duckdb 1.0.0
    assert(one("SELECT list_reduce(array(1, 2, 3), (x, y) -> x + y)") == 6)
    assert(one("SELECT list_reduce(array(5), (x, y) -> x + y)") == 5)
    assert(one("SELECT list_reduce(array(1, 2, 3), (x, y) -> x * 10 + y)") ==
      123)
    assert(one("SELECT list_reduce(CAST(NULL AS ARRAY<INT>), (x, y) -> x + y)")
      == null)
    assert(one("SELECT list_reduce(NULL, (x, y) -> x + y)") == null)
    assert(one("SELECT list_reduce(array(NULL, NULL), (x, y) -> x + y)") ==
      null)
    assert(one("SELECT list_reduce(array(1, NULL, 3), (x, y) -> x + y)") ==
      null)
    assert(one("SELECT list_reduce(array('a', 'b'), (x, y) -> x || y)") ==
      "ab")
    // each step is cast to the element type: INT / INT is a DOUBLE here
    assert(spark.sql("SELECT list_reduce(array(1, 2, 3), (x, y) -> x / y)")
      .schema.head.dataType == org.apache.spark.sql.types.IntegerType)
    val empty = intercept[Exception](spark.sql(
      "SELECT list_reduce(CAST(array() AS ARRAY<INT>), (x, y) -> x + y)")
      .collect())
    assert(empty.getMessage.contains(
      "Cannot perform list_reduce on an empty input list"))
    val indexed = intercept[Exception](spark.sql(
      "SELECT list_reduce(array(1, 2, 3), (x, y, i) -> x + y + i)").collect())
    assert(indexed.getMessage.contains("(acc, x, i) form is not supported"))
  }

  test("list_reverse/unique/has_any/has_all match DuckDB's NULL rules") {
    assert(one("SELECT list_reverse(array(1, NULL, 3))") ==
      Seq(3, null, 1))
    // distinct NON-NULL count (DuckDB skips NULLs), BIGINT
    assert(one("SELECT list_unique(array(1, 1, 2, NULL, NULL))") == 2L)
    // has_any ignores NULL elements — two-valued, never three-valued
    assert(one("SELECT list_has_any(array(1, 2), array(2, 3))") == true)
    assert(one("SELECT list_has_any(array(1, CAST(NULL AS INT))," +
      " array(2, CAST(NULL AS INT)))") == false)
    assert(one("SELECT list_has_any(array(1)," +
      " CAST(NULL AS ARRAY<INT>))") == null)
    // has_all ignores NULL needles (measured DuckDB semantics)
    assert(one("SELECT list_has_all(array(1, 2, 3), array(2, 3))") == true)
    assert(one("SELECT list_has_all(array(1), array(2))") == false)
    assert(one("SELECT list_has_all(array(1)," +
      " array(CAST(NULL AS INT)))") == true)
    assert(one("SELECT list_has_all(array(1, 2), array())") == true)
  }

  test("list_intersect dedups, drops NULLs, and []-fills NULL args") {
    assert(one("SELECT list_sort(list_intersect(array(1, 2, 2," +
      " CAST(NULL AS INT)), array(2, 3, CAST(NULL AS INT))))") == Seq(2))
    assert(one("SELECT list_intersect(array(1), array(2))") == Seq())
    assert(one("SELECT list_intersect(array(1)," +
      " CAST(NULL AS ARRAY<INT>))") == Seq())
    assert(one("SELECT list_intersect(CAST(NULL AS ARRAY<INT>)," +
      " array(1))") == Seq())
  }

  test("regexp flags: g/i route, flag-less replace keeps builtin meaning") {
    assert(one("SELECT regexp_replace('aaa', 'a', 'b', 'g')") == "bbb")
    assert(one("SELECT regexp_replace('AaA', 'a', 'b', 'gi')") == "bbb")
    // 3-arg stays SPARK's builtin (replace all) — the documented
    // divergence from DuckDB's first-only default
    assert(one("SELECT regexp_replace('aaa', 'a', 'b')") == "bbb")
    // flags without g refuse rather than silently replace all
    val e = intercept[Exception](spark.sql(
      "SELECT regexp_replace('aaa', 'a', 'b', 'i')").collect())
    assert(e.getMessage.contains("'g'"))
    assert(one("SELECT regexp_matches('ABC', 'abc', 'i')") == true)
    assert(one("SELECT regexp_matches('ABC', 'abc')") == false)
    // unsupported flags refuse loudly
    assertThrows[Exception](spark.sql(
      "SELECT regexp_matches('x', 'x', 'q')").collect())
  }

  test("battery 5: strpos/list_zip/list_extract/struct_extract ordinal") {
    assert(one("SELECT strpos('hello world', 'o')") == 5)
    assert(one("SELECT strpos('abc', 'zz')") == 0)
    assert(one("SELECT strpos('abc', '')") == 1) // measured DuckDB
    // zip pads to the LONGEST list with NULLs; fields list_1..list_n
    val z = spark.sql("SELECT list_zip(array(1, 2), array(10, 20, 30))")
    assert(z.schema.fields(0).dataType.simpleString ==
      "array<struct<list_1:int,list_2:int>>")
    assert(one(
      "SELECT struct_extract(list_extract(" +
        "list_zip(array(1, 2), array(10, 20, 30)), 3), 2)") == 30)
    assert(one(
      "SELECT struct_extract(list_extract(" +
        "list_zip(array(1, 2), array(10, 20, 30)), 3), 1)") == null)
    // out-of-bounds and index-0 access are NULL (DuckDB), not errors;
    // negative indexes count from the end
    assert(one("SELECT list_extract(array(1, 2), 9)") == null)
    assert(one("SELECT list_extract(array(1, 2), 0)") == null)
    assert(one("SELECT list_extract(array(1, 2, 3), -1)") == 3)
    assert(one("SELECT list_element(array(7), 1)") == 7)
    // named access still works through the string form
    assert(one("SELECT struct_extract(named_struct('k', 42), 'k')") == 42)
  }

  test("battery 5: age follows DuckDB's measured borrow rule") {
    def parts(e: String): (Any, Any, Any) = {
      val r = spark.sql(
        s"SELECT date_part('year', $e), date_part('month', $e)," +
          s" date_part('day', $e)").collect()(0)
      (r.get(0), r.get(1), r.get(2))
    }
    // the case separating DuckDB from Postgres: borrow uses t2's month
    assert(parts("age(DATE '2024-07-04', DATE '1994-03-15')") ==
      ((30, 3, 20)))
    // both-last-day-of-month must NOT collapse to a whole month
    assert(parts("age(DATE '2020-04-30', DATE '2020-03-31')") ==
      ((0, 0, 30)))
    assert(parts("age(DATE '2020-03-01', DATE '2020-01-31')") ==
      ((0, 1, 1)))
    // leap vs non-leap February in the borrowed month
    assert(parts("age(DATE '2020-03-10', DATE '2020-02-20')") ==
      ((0, 0, 19)))
    assert(parts("age(DATE '2021-03-10', DATE '2021-02-20')") ==
      ((0, 0, 18)))
    // t1 < t2 mirrors with every component negated
    assert(parts("age(DATE '2020-01-10', DATE '2021-03-20')") ==
      ((-1, -2, -10)))
    // time-of-day borrow pulls a day before the month borrow
    val h = spark.sql(
      "SELECT date_part('day', age(TIMESTAMP '2020-03-20 05:00:00'," +
        " TIMESTAMP '2020-02-20 20:00:00')), date_part('hour'," +
        " age(TIMESTAMP '2020-03-20 05:00:00'," +
        " TIMESTAMP '2020-02-20 20:00:00'))").collect()(0)
    assert((h.get(0), h.get(1)) == ((28, 9)))
  }

  test("battery 5: jaccard/hamming match DuckDB's measured semantics") {
    assert(one("SELECT jaccard('duck', 'luck')") == 0.6)
    assert(one("SELECT jaccard('ABC', 'abc')") == 0.0) // case-sensitive
    assert(one("SELECT jaccard('aab', 'ab')") == 1.0) // char SETS
    assert(one("SELECT hamming('duck', 'luck')") == 1L)
    assert(one("SELECT hamming('ABC', 'abc')") == 3L)
    // refusal rails, as the oracle engine refuses
    assertThrows[Exception](
      spark.sql("SELECT jaccard('', 'x')").collect())
    assertThrows[Exception](
      spark.sql("SELECT hamming('ab', 'abc')").collect())
  }

  test("battery 6: gcd/lcm/even/signbit/isinf/isfinite/nextafter") {
    assert(one("SELECT gcd(12, 18)") == 6L)
    assert(one("SELECT gcd(-12, 18)") == 6L) // non-negative (measured)
    assert(one("SELECT gcd(0, 0)") == 0L)
    assert(one("SELECT greatest_common_divisor(12, 8)") == 4L)
    assert(one("SELECT lcm(4, 6)") == 12L)
    assert(one("SELECT lcm(-4, 6)") == 12L)
    assert(one("SELECT lcm(0, 5)") == 0L) // measured, no div-by-zero
    assert(one("SELECT least_common_multiple(3, 5)") == 15L)
    assert(one("SELECT gcd(NULL, 2)") == null) // null propagates
    // even: next even integer AWAY from zero; even ints fixed
    assert(one("SELECT even(2.1)") == 4.0)
    assert(one("SELECT even(2.0)") == 2.0)
    assert(one("SELECT even(3.0)") == 4.0)
    assert(one("SELECT even(-0.5)") == -2.0)
    assert(one("SELECT even(0.0)") == 0.0)
    // signbit is the IEEE BIT: -0.0 true, NaN false (measured)
    assert(one("SELECT signbit(-1.5)") == true)
    // the -0.0 must survive as a DOUBLE: a bare -0.0 literal is
    // DECIMAL in both engines, and decimals have no signed zero
    assert(one("SELECT signbit(CAST('-0.0' AS DOUBLE))") == true)
    assert(one("SELECT signbit(CAST('NaN' AS DOUBLE))") == false)
    assert(one("SELECT isinf(CAST('Infinity' AS DOUBLE))") == true)
    assert(one("SELECT isinf(1.0)") == false)
    assert(one("SELECT isfinite(1.0)") == true)
    assert(one("SELECT isfinite(CAST('NaN' AS DOUBLE))") == false)
    assert(one("SELECT isinf(CAST('NaN' AS DOUBLE))") == false)
    assert(one("SELECT isinf(NULL)") == null)
    assert(one("SELECT nextafter(1.0, 2.0)") == 1.0000000000000002)
    assert(one("SELECT nextafter(1.0, 1.0)") == 1.0)
  }

  test("battery 6: unicode/ord/strip_accents/edit distances") {
    assert(one("SELECT unicode('über')") == 252)
    assert(one("SELECT unicode('')") == -1) // measured; ascii says 0
    assert(one("SELECT ord('')") == -1) // ord re-pointed to the same
    assert(one("SELECT unicode('😀')") == 128512) // supplementary plane
    assert(one("SELECT strip_accents('mühleisen àéîõü')") ==
      "muhleisen aeiou")
    // no decomposition → pass-through (measured: 'ßæøñç' → 'ßæønc')
    assert(one("SELECT strip_accents('ßæøñç')") == "ßæønc")
    // input ARRIVING decomposed ('a' + combining acute) still strips —
    // the isNormalized fast path guards only the normalize call
    // (measured: strip_accents('a' || chr(769)) = 'a')
    assert(one("SELECT strip_accents('á')") == "a")
    assert(one("SELECT damerau_levenshtein('duck', 'dcuk')") == 1L)
    // TRUE Damerau, not OSA: ('CA','ABC') is 2 (OSA would say 3)
    assert(one("SELECT damerau_levenshtein('CA', 'ABC')") == 2L)
    assert(one("SELECT damerau_levenshtein('kitten', 'sitting')") == 3L)
    assert(one("SELECT damerau_levenshtein('', 'ab')") == 2L)
    assert(one("SELECT editdist3('duck', 'dcuk')") == 2L) // levenshtein
    assert(one("SELECT mismatches('ABC', 'abc')") == 3L) // hamming alias
  }

  test("battery 6: format_bytes/bar/to_base/to_hex round-trip") {
    assert(one("SELECT format_bytes(1)") == "1 byte") // singular
    assert(one("SELECT format_bytes(0)") == "0 bytes")
    assert(one("SELECT format_bytes(1023)") == "1023 bytes")
    // truncation, not rounding: 1126 B = 1.0996 KiB
    assert(one("SELECT format_bytes(1126)") == "1.0 KiB")
    assert(one("SELECT format_bytes(1048570)") == "1023.9 KiB")
    assert(one("SELECT format_bytes(-2048)") == "-2.0 KiB")
    // the cascade's LOSSY decimal: 25 900 000 B is 24.70 MiB exactly,
    // but the digit comes from the KiB-level remainder (716 KiB →
    // 7160/1024 = 6) — measured against the oracle
    assert(one("SELECT format_bytes(25900000)") == "24.6 MiB")
    assert(one("SELECT format_bytes(1073741824)") == "1.0 GiB")
    // unit cap at PiB (measured)
    assert(one("SELECT format_bytes(9223372036854775807)") ==
      "8191.9 PiB")
    // bar: block glyphs, space-padded to width in UTF-8 BYTES
    assert(one("SELECT bar(1, 0, 8, 8)") == "█     ")
    assert(one("SELECT bar(4, 0, 8, 8)") == "████")
    assert(one("SELECT bar(0.5, 0, 10, 10)") == "▌       ")
    assert(one("SELECT bar(2.5, 0, 8, 8)") == "██▌")
    assert(one("SELECT bar(12, 0, 10, 10)") == "██████████") // clamped
    assert(one("SELECT bar(-1, 0, 10, 10)") == "          ")
    assert(one("SELECT length(bar(1, 0, 80))") == 78) // default width 80
    assert(one("SELECT to_base(255, 16)") == "FF")
    assert(one("SELECT to_base(255, 2)") == "11111111")
    assert(one("SELECT to_base(255, 16, 6)") == "0000FF") // pads
    assert(one("SELECT to_base(255, 16, 1)") == "FF") // never truncates
    assert(one("SELECT to_base(0, 2)") == "0")
    assertThrows[Exception]( // negative refuses, as the oracle does
      spark.sql("SELECT to_base(-255, 16)").collect())
    assert(one("SELECT to_hex(255)") == "FF")
    assert(one("SELECT to_hex(-1)") == "FFFFFFFFFFFFFFFF")
    assert(one("SELECT to_hex(from_hex('4a4b'))") == "4A4B")
  }

  test("battery 6: list metric functions match the measured folds") {
    assert(one(
      "SELECT list_inner_product(array(1.0, 2, 3), array(4.0, 5, 6))")
      == 32.0)
    assert(one(
      "SELECT list_dot_product(array(1.0), array(2.0))") == 2.0)
    // 0.1*0.3 + 0.2*0.7 as a sequential fold (bit-pinned vs oracle)
    assert(one(
      "SELECT list_inner_product(array(0.1, 0.2), array(0.3, 0.7))")
      == 0.16999999999999998)
    assert(one(
      "SELECT list_distance(array(1.0, 2), array(4.0, 6))") == 5.0)
    assert(one(
      "SELECT list_cosine_similarity(array(3.0, 4.0), array(4.0, 3.0))")
      == 0.96)
    // the measured denominator association dot/(sqrt(na)*sqrt(nb))
    assert(one(
      "SELECT list_cosine_similarity(array(1.0, 2, 3), array(4.0, 5, 6))")
      == 0.9746318461970762)
    // integer lists coerce to double lists, as in DuckDB
    assert(one(
      "SELECT list_inner_product(array(1, 2), array(3, 4))") == 11.0)
    assertThrows[Exception]( // length mismatch refuses
      spark.sql("SELECT list_inner_product(array(1.0), array(1.0, 2.0))")
        .collect())
    assertThrows[Exception]( // NULL element refuses
      spark.sql("SELECT list_inner_product(array(1.0, CAST(NULL AS" +
        " DOUBLE)), array(1.0, 2.0))").collect())
  }

  test("battery 7: jaro pair matches the fuzz-pinned semantics") {
    assert(one("SELECT jaro_similarity('duckdb', 'duckdb')") == 1.0)
    assert(one("SELECT jaro_similarity('martha', 'marhta')") ==
      0.9444444444444445)
    assert(one("SELECT jaro_winkler_similarity('martha', 'marhta')") ==
      0.9611111111111111)
    assert(one("SELECT jaro_winkler_similarity('dixon', 'dicksonx')") ==
      0.8133333333333332)
    // either side empty is 0.0 — even BOTH empty (measured)
    assert(one("SELECT jaro_similarity('abc', '')") == 0.0)
    assert(one("SELECT jaro_similarity('', '')") == 0.0)
    // BYTE-based, not code points: 'über' counts 5 (measured)
    assert(one("SELECT jaro_similarity('über', 'uber')") ==
      0.7833333333333333)
    // the 0.7 threshold: a common prefix below it must NOT boost
    // (measured: both sides 0.5666666666666667 despite the 'a' prefix)
    assert(one("SELECT jaro_winkler_similarity('ab', 'axyzw')") ==
      0.5666666666666667)
    assert(one("SELECT jaro_winkler_similarity('ab', 'axyzw')") ==
      one("SELECT jaro_similarity('ab', 'axyzw')"))
  }

  test("battery 8: quantile_disc is the exact order statistic") {
    // the 1-based ceil(q*n) index rule (fuzz-pinned, 500/500)
    assert(one("SELECT quantile_disc(x, 0.5) FROM VALUES (1),(2),(3),(4)" +
      " t(x)") == 2)
    assert(one("SELECT quantile_disc(x, 0.9) FROM VALUES (1),(2),(3),(4)" +
      " t(x)") == 4)
    assert(one("SELECT quantile(x, 0.25) FROM VALUES (10),(20),(30),(40)" +
      " t(x)") == 10) // alias; ceil(1) = 1st element
    assert(one("SELECT quantile_disc(x, 0.0) FROM VALUES (7),(8) t(x)")
      == 7) // q = 0 clamps to the first element
    // NULLs are skipped like every aggregate; all-NULL group is NULL
    assert(one("SELECT quantile_disc(x, 0.5) FROM VALUES (1)," +
      "(CAST(NULL AS INT)),(3) t(x)") == 1)
    assert(one("SELECT quantile_disc(x, 0.5) FROM (SELECT CAST(NULL AS" +
      " INT) AS x WHERE false) t") == null)
    // NEGATIVE q is the quantile of the DESCENDING order (measured:
    // quantile_disc(x, -0.25) on (1,2,3,4) = 4, -1.0 = 1); outside
    // [-1, 1] DuckDB raises a binder error, not NULL/clamp
    assert(one("SELECT quantile_disc(x, -0.25) FROM VALUES (1),(2),(3)," +
      "(4) t(x)") == 4)
    assert(one("SELECT quantile_disc(x, -0.5) FROM VALUES (1),(2),(3)," +
      "(4) t(x)") == 3)
    assert(one("SELECT quantile_disc(x, -1.0) FROM VALUES (1),(2),(3)," +
      "(4) t(x)") == 1)
    // negative q over an EMPTY / all-NULL group is NULL, as in DuckDB
    // (ADVICE r20: the unclamped n-k+1 index was 0 and ElementAt raises
    // INVALID_INDEX_OF_ZERO regardless of failOnError)
    assert(one("SELECT quantile_disc(x, -0.5) FROM (SELECT CAST(NULL AS" +
      " INT) AS x WHERE false) t") == null)
    assert(one("SELECT quantile(x, -0.25) FROM VALUES (CAST(NULL AS" +
      " INT)) t(x)") == null)
    assert(intercept[Exception](one(
      "SELECT quantile_disc(x, 1.5) FROM VALUES (1),(2) t(x)"))
      .getMessage.contains("[-1, 1]"))
    assert(intercept[Exception](one(
      "SELECT quantile(x, -2.0) FROM VALUES (1),(2) t(x)"))
      .getMessage.contains("[-1, 1]"))
  }

  test("battery 8: synonym surface + list_any_value") {
    assert(one("SELECT list_aggr(array(1, 2, 3), 'sum')") == 6)
    assert(one("SELECT array_aggregate(array(1, 2), 'max')") == 2)
    assert(one("SELECT array_aggr(array(1, 2), 'min')") == 1)
    // array_slice keeps list_slice's 1-based INCLUSIVE-end semantics
    assert(one("SELECT array_slice(array(1, 2, 3, 4), 2, 3)") ==
      Seq(2, 3))
    assert(one("SELECT list_pack(1, 2)") == Seq(1, 2))
    assert(one("SELECT array_reverse(array(1, 2, 3))") == Seq(3, 2, 1))
    // first NON-NULL element, NULL when none (measured)
    assert(one("SELECT list_any_value(array(CAST(NULL AS INT), 7, 8))")
      == 7)
    assert(one("SELECT list_any_value(array(CAST(NULL AS INT)))") == null)
  }

  test("scalar generate_series/range: inclusive vs exclusive, empty spans") {
    assert(one("SELECT generate_series(1, 4)") == Seq(1L, 2L, 3L, 4L))
    assert(one("SELECT generate_series(4, 1)") == Seq()) // measured: []
    assert(one("SELECT generate_series(1, 7, 2)") == Seq(1L, 3L, 5L, 7L))
    assert(one("SELECT generate_series(5, 1, -2)") == Seq(5L, 3L, 1L))
    assert(one("SELECT generate_series(3)") == Seq(0L, 1L, 2L, 3L))
    assert(one("SELECT range(1, 4)") == Seq(1L, 2L, 3L)) // exclusive end
    assert(one("SELECT range(4, 4)") == Seq())
    assert(one("SELECT range(4, 1)") == Seq())
    assert(one("SELECT range(1, 8, 3)") == Seq(1L, 4L, 7L))
    assert(one("SELECT range(5, 1, -2)") == Seq(5L, 3L))
    assert(one("SELECT range(3)") == Seq(0L, 1L, 2L))
    // FROM-position table form still resolves independently
    assert(spark.sql("SELECT count(*) FROM range(5)").head().getLong(0)
      == 5L)
    assertThrows[Exception]( // non-literal step refuses
      spark.sql("SELECT generate_series(1, 5, CAST(rand()*2 AS INT) + 1)")
        .collect())
  }

  test("cFormatToJava translation table and refusals") {
    assert(DuckdbCompat.cFormatToJava("%Y-%m-%d") == "yyyy-MM-dd")
    assert(DuckdbCompat.cFormatToJava("%H:%M:%S.%f") == "HH:mm:ss.SSSSSS")
    assert(DuckdbCompat.cFormatToJava("day %j of %Y") ==
      "'day 'DDD' of 'yyyy")
    intercept[IllegalArgumentException](DuckdbCompat.cFormatToJava("%Q"))
    // non-literal formats refuse at plan time, never mis-format
    val e = intercept[Exception](
      spark.sql("SELECT strftime(TIMESTAMP '2024-01-01', concat('%','Y'))")
        .collect())
    assert(e.getMessage.contains("literal format"))
  }

  test("epoch_us / epoch_ms count a TIMESTAMP_NTZ's wall clock in any zone") {
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      Seq("UTC", "America/Los_Angeles").foreach { zone =>
      spark.conf.set("spark.sql.session.timeZone", zone)
        assert(one("SELECT epoch_us(TIMESTAMP_NTZ '2024-01-01 00:00:01')") ==
          1704067201000000L, zone)
        assert(one("SELECT epoch_ms(TIMESTAMP_NTZ '2024-01-01 00:00:01.5')") ==
          1704067201500L, zone)
        // a column, as in a query over events.ts
        assert(one("SELECT epoch_us(t) FROM VALUES" +
          " (TIMESTAMP_NTZ '1969-12-31 23:59:59') v(t)") == -1000000L, zone)
        assert(one("SELECT epoch_us(CAST(NULL AS TIMESTAMP_NTZ))") == null)
      }
      // an instant TIMESTAMP keeps its own epoch: 00:00:01 in Los Angeles
      // is 08:00:01 UTC
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      assert(one("SELECT epoch_us(TIMESTAMP '2024-01-01 00:00:01')") ==
        1704096001000000L)
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("length / len count a list's elements, keep Spark's string length") {
    assert(one("SELECT length(array(7, 8, 9))") == 3L)
    assert(one("SELECT len(array('a', 'b'))") == 2L)
    assert(one("SELECT length(string_split('a b c d', ' '))") == 4L)
    assert(one("SELECT length(array())") == 0L)
    assert(one("SELECT length(CAST(NULL AS ARRAY<INT>))") == null)
    assert(spark.sql("SELECT length(array(1))").schema.head.dataType ==
      org.apache.spark.sql.types.LongType)
    // strings and binary keep Spark's length (characters / bytes)
    assert(one("SELECT length('abcd')") == 4)
    assert(one("SELECT len('héllo')") == 5)
    assert(one("SELECT length(X'010203')") == 3)
    assert(one("SELECT length(NULL)") == null)
  }

  // Expected values below are DuckDB 1.0.0's, measured.

  test("xor is DuckDB's bitwise xor, in the wider integral type") {
    assert(one("SELECT xor(5::INT, 3::BIGINT)") == 6L)
    assert(spark.sql("SELECT xor(5::INT, 3::BIGINT)").schema.head.dataType ==
      org.apache.spark.sql.types.LongType)
    assert(one("SELECT xor(1::TINYINT, 2::SMALLINT)") == 3.toShort)
    assert(one("SELECT xor(NULL, 3)") == null)
    // DuckDB has no xor over decimals
    val e = intercept[Exception](one("SELECT xor(1.5, 2)"))
    assert(e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("MAP(keys, values) over two lists builds DuckDB's map") {
    import graft.engine.Engine
    def route(q: String): Any = Engine.sql(spark, q).collect()(0).get(0)
    assert(route("SELECT MAP(['a', 'b'], [1, 2])['b']") == Seq(2))
    assert(route("SELECT MAP(['a', 'b'], [1, 2])") == Map("a" -> 1, "b" -> 2))
    val e = intercept[Exception](route("SELECT MAP(['a', 'b'], [1])"))
    assert(e.getMessage.contains(
      "The map key list does not align with the map value list"))
    // the literal spelling keeps one entry whose key is the list [1]
    assert(route("SELECT cardinality(MAP {[1]: [2]})") == 1)
    assert(route("SELECT map_keys(MAP {[1]: [2]})") == Seq(Seq(1)))
    // every other arity keeps Spark's pairwise map
    assert(one("SELECT map('a', 1, 'b', 2)") == Map("a" -> 1, "b" -> 2))
    assert(one("SELECT map()") == Map())
  }

  test("concat skips NULL arguments, as in DuckDB") {
    assert(one("SELECT concat('a', NULL)") == "a")
    assert(one("SELECT concat(NULL, NULL)") == "")
    assert(one("SELECT concat('a', 1, NULL)") == "a1")
    // lists and binary values keep Spark's concat; || is NULL in both
    assert(one("SELECT concat(array(1), array(2, 3))") == Seq(1, 2, 3))
    assert(one("SELECT concat(X'01', X'02')").asInstanceOf[Array[Byte]]
      .toSeq == Seq[Byte](1, 2))
    assert(one("SELECT 'a' || NULL") == null)
  }

  test("regexp_extract and regexp_extract_all read group 0 by default, as in DuckDB") {
    // every expected value is DuckDB 1.0.0's
    assert(one("SELECT regexp_extract('abc123', '([a-z]+)([0-9]+)')") ==
      "abc123")
    assert(one("SELECT regexp_extract('abc123', '[0-9]+')") == "123")
    assert(one("SELECT regexp_extract('abc', '[0-9]+')") == "")
    assert(one("SELECT regexp_extract_all('a1b22c333', '[0-9]+')") ==
      Seq("1", "22", "333"))
    // a group argument keeps Spark's reading, which DuckDB shares
    assert(one("SELECT regexp_extract('abc123', '([a-z]+)([0-9]+)', 2)") ==
      "123")
    assert(one("SELECT regexp_extract_all('a1b22', '([a-z])([0-9]+)', 1)") ==
      Seq("a", "b"))
  }
}
