package graft.queries

import Tables._

/** Tier C queries routed through the ENGINE's SQL path — `Engine.sql` /
  * `Engine.runScript` over the registered temp-view catalog, via the one
  * text helper `Tables.q` / `script` (`qAt` / `scriptAt` for texts that
  * name files under the testdata dir) — rather than the DataFrame API.
  * This is the direct analog of the reference's only execution surface,
  * `conn.query(sql)` (the reference's `src/duckdb.ts:46-54`): the SQL text
  * reaches Catalyst verbatim, exactly as the reference hands the editor
  * text to DuckDB. Every query here is text. Where the dialects agree the
  * SAME text is used on both sides; divergences (path-as-table syntax,
  * identifier quoting, strftime↔date_format, file paths under the dir)
  * get a per-side text, which is itself the point of those queries. The
  * one builder is `c_sql_path`: it witnesses Spark's own
  * parquet.`path` spelling through plain `spark.sql`, outside the router.
  */
object TierCSql {

  /** Shared-dialect money macro (valid in both Spark SQL and DuckDB). */
  private def msum(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"

  // B2: named full-scan projection + deterministic ORDER BY + LIMIT.
  // Identical text both engines. (l_orderkey, l_linenumber) is NOT unique
  // in the testdata, so the ORDER BY covers every output column — any
  // remaining tie is a fully identical row and the LIMIT boundary becomes
  // order-insensitive.
  val sqlSelect: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_returnflag
      |LIMIT 20""".stripMargin

  // B3: scan by file-path literal. Spark spells it parquet.`path`; the
  // oracle reads the same rows through its registered view.
  val pathQ: Q = (s, dir) =>
    s.sql(
      s"""SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
         |FROM parquet.`$dir/lineitem.parquet`
         |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_returnflag
         |LIMIT 20""".stripMargin)

  // CTE (WITH): monthly revenue off a CTE, filtered and ordered. The Spark
  // side groups by the SELECT-LIST ALIAS `mes` (B18 —
  // spark.sql.groupByAliases, default on), matching DuckDB's alias
  // resolution.
  def cteSpark: String =
    s"""WITH monthly AS (
       |  SELECT date_format(date_trunc('MONTH', l_shipdate), 'yyyy-MM-dd')
       |           AS mes,
       |         ${msum("l_extendedprice")} AS total
       |  FROM lineitem GROUP BY mes)
       |SELECT mes, total FROM monthly WHERE total > 1000000
       |ORDER BY mes""".stripMargin

  def cteOracle: String =
    s"""WITH monthly AS (
       |  SELECT ${oMonth("l_shipdate")} AS mes,
       |         ${msum("l_extendedprice")} AS total
       |  FROM lineitem GROUP BY 1)
       |SELECT mes, total FROM monthly WHERE total > 1000000
       |ORDER BY mes""".stripMargin

  // Scalar subquery. MAX is exact, and 0.95 * max is a single IEEE double
  // multiply with identical operands on both engines — deterministic
  // (unlike SUM/AVG reductions over doubles, which are order-sensitive).
  val scalarSubq: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice >= (SELECT MAX(o_totalprice) FROM orders) * 0.95
      |ORDER BY o_orderkey""".stripMargin

  // IN subquery.
  val inSubq: String =
    """SELECT s_suppkey, s_name FROM supplier
      |WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem
      |                    WHERE l_returnflag = 'R' AND l_quantity >= 49)
      |ORDER BY s_suppkey""".stripMargin

  // Correlated EXISTS with an inequality on the correlated column.
  val existsSubq: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND o_totalprice > c_acctbal * 100)
      |ORDER BY c_custkey""".stripMargin

  // Set ops (identical text; both engines default UNION/INTERSECT/EXCEPT
  // to DISTINCT semantics, spelled explicitly anyway).
  val setopUnion: String =
    """SELECT DISTINCT 'returned' AS tag, l_suppkey AS k FROM lineitem
      |WHERE l_returnflag = 'R'
      |UNION ALL
      |SELECT DISTINCT 'open' AS tag, l_suppkey AS k FROM lineitem
      |WHERE l_linestatus = 'O'
      |ORDER BY tag, k""".stripMargin

  val setopIntersect: String =
    """SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
      |INTERSECT
      |SELECT l_suppkey AS k FROM lineitem WHERE l_quantity >= 49
      |ORDER BY k""".stripMargin

  val setopExcept: String =
    """SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
      |EXCEPT
      |SELECT l_suppkey AS k FROM lineitem
      |WHERE l_quantity = 50 AND l_returnflag = 'A'
      |ORDER BY k""".stripMargin

  // GROUPING SETS with an explicit empty set.
  val groupingSets: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       |  COALESCE(l_linestatus, 'ALL') AS status,
       |  COUNT(*) AS n, ${msum("l_extendedprice")} AS revenue
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
       |                        (l_returnflag), ())
       |ORDER BY flag, status""".stripMargin

  // A7 + B29 + B30 + A12 in one path: a two-statement script (DDL view +
  // query over it) split by the engine's lexer and executed in order. The
  // oracle is the equivalent single SELECT.
  val viewScript: String =
    s"""CREATE OR REPLACE TEMPORARY VIEW big_orders AS
       |  SELECT * FROM orders WHERE o_totalprice > 300000;
       |SELECT o_orderpriority, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM big_orders
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority;""".stripMargin

  val viewScriptOracle: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM orders WHERE o_totalprice > 300000
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // Scalar-function breadth: string (upper/substr/concat/LIKE/regexp),
  // math (ceil/floor/abs — transcendentals excluded: libm last-ulp
  // divergence across engines), conditional (greatest/least), date parts.
  // Identical text both engines; ceil/floor wrapped in CAST because Spark
  // returns BIGINT where DuckDB keeps DOUBLE.
  val scalarFuncs: String =
    """SELECT l_orderkey, l_linenumber, upper(l_returnflag) AS u,
      |  substr(l_returnflag || l_linestatus, 1, 2) AS s2,
      |  l_returnflag LIKE 'R%' AS is_r,
      |  regexp_replace(l_linestatus, 'O', 'X') AS rr,
      |  CAST(ceil(l_extendedprice) AS DOUBLE) AS ce,
      |  CAST(floor(l_tax * 100) AS DOUBLE) AS fl,
      |  round(l_extendedprice, 1) AS r1,
      |  abs(l_discount - 0.05) AS ab,
      |  greatest(l_quantity, CAST(10.0 AS DOUBLE)) AS g,
      |  least(l_quantity, CAST(10.0 AS DOUBLE)) AS l,
      |  CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS y,
      |  CAST(EXTRACT(MONTH FROM l_shipdate) AS BIGINT) AS mo
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, ce, y, mo, ab, g, l, fl, u, s2,
      |         rr, is_r, r1
      |LIMIT 100""".stripMargin

  // Recursive CTE (Spark 4 WITH RECURSIVE ↔ DuckDB) — identical text.
  val recursiveCte: String =
    """WITH RECURSIVE n AS (
      |  SELECT CAST(1 AS BIGINT) AS x
      |  UNION ALL
      |  SELECT x + 1 FROM n WHERE x < 10)
      |SELECT x FROM n ORDER BY x""".stripMargin

  // B27/B28: doubled-quote string literal + quoted identifier with a space
  // (backticks in Spark, double quotes in DuckDB — the A10 dialect delta).
  val quotingSpark: String =
    "SELECT 'it''s' AS v1, CAST(42 AS BIGINT) AS `weird name`"
  val quotingOracle: String =
    "SELECT 'it''s' AS v1, CAST(42 AS BIGINT) AS \"weird name\""

  // GROUPING() disambiguates rolled-up NULLs from genuine NULL keys —
  // the COALESCE('ALL') idiom alone is ambiguous. Identical text both
  // engines (both return 0/1 per key).
  val groupingFn: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      |  COALESCE(l_linestatus, 'ALL') AS status,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  // LATERAL correlated subquery: top-2 orders per customer — the
  // greatest-n-per-group shape as the user would type it. Identical text
  // both engines; o_totalprice is a stored DOUBLE (no arithmetic), so it
  // hash-matches without canonicalization.
  val lateralTopn: String =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      |WHERE c.c_custkey <= 20
      |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin

  // FULL OUTER join completing the join family: both inputs PRE-AGGREGATED
  // to one row per customer before the join (the at-scale shape — the
  // full-outer shuffle moves customer-grain rows, not order-grain), then
  // the null-side classification that full-outer exists for. All-integer
  // arithmetic; identical text both engines. (At 100 TB both legs shuffle
  // on ck once and the join is co-partitioned — no broadcast is possible
  // or needed for full-outer.)
  val joinFull: String =
    """WITH f AS (SELECT o_custkey AS ck, COUNT(*) AS n_f FROM orders
      |           WHERE o_orderstatus = 'F' GROUP BY o_custkey),
      |o AS (SELECT o_custkey AS ck, COUNT(*) AS n_o FROM orders
      |      WHERE o_orderstatus = 'O' GROUP BY o_custkey)
      |SELECT CASE WHEN f.ck IS NULL THEN 'open_only'
      |  WHEN o.ck IS NULL THEN 'finished_only' ELSE 'both' END AS side,
      |  COUNT(*) AS n, CAST(SUM(COALESCE(n_f, 0)) AS BIGINT) AS total_f,
      |  CAST(SUM(COALESCE(n_o, 0)) AS BIGINT) AS total_o
      |FROM f FULL JOIN o ON f.ck = o.ck
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // EXCEPT ALL — bag semantics (per-key multiplicity difference), the
  // variant c_setop_except's DISTINCT semantics can't witness. Sides
  // chosen so the difference is non-empty (O-status rows outnumber
  // R-flag rows per supplier); re-grouped so the output is one bounded
  // row per key. Identical text both engines.
  val setopExceptAll: String =
    """SELECT k, COUNT(*) AS n FROM (
      |  SELECT l_suppkey AS k FROM lineitem WHERE l_linestatus = 'O'
      |  EXCEPT ALL
      |  SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R') AS e
      |GROUP BY k ORDER BY k LIMIT 100""".stripMargin

  // GROUP BY ALL — the infer-keys-from-select-list form (a DuckDB-ism the
  // reference's users type daily that Spark 4 also accepts verbatim).
  val groupByAll: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |  ${msum("l_quantity")} AS qty
       |FROM lineitem GROUP BY ALL
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // QUALIFY — the filter-on-window-result clause (a DuckDB/Snowflake-ism
  // next to DISTINCT ON in the reference user's daily vocabulary). Spark
  // SQL has no QUALIFY; since round 16 the ENGINE routes the clause
  // (`Engine.rewriteQualify`: the predicate joins the select list as a
  // boolean item, the head becomes a filtered subquery, the helper drops
  // via * EXCEPT), so the IDENTICAL text runs on both engines — before
  // r16 the Spark side carried the manual derived-table translation this
  // rewrite automates. Top-2 orders per status; row_number's (price
  // DESC, key) order is total because o_orderkey is unique, so the rank
  // — and the hash — is deterministic at any parallelism.
  val qualifyOracle: String =
    """SELECT o_orderstatus, o_orderkey, o_totalprice
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_orderstatus
      |  ORDER BY o_totalprice DESC, o_orderkey) <= 2
      |ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey""".stripMargin

  // FROM-first statement syntax — DuckDB's leading-FROM sugar (`FROM t`,
  // `FROM t WHERE …` as implicit SELECT *, `FROM t SELECT cols …` with
  // trailing clauses after the list). The ENGINE routes it (round 16,
  // `Engine.fromFirstToSelect`): a quote/paren-aware scan finds the
  // top-level SELECT and re-inserts FROM before the first trailing
  // clause keyword, so the IDENTICAL text runs on both engines — the
  // oracle executes DuckDB's native FROM-first parse, certifying the
  // rewrite against the real grammar rather than a re-spelling. The
  // exercised shape covers the hard case: explicit select list with an
  // aggregate, then WHERE + GROUP BY + ORDER BY after it.
  val fromFirst: String =
    s"""FROM lineitem
       |SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |  ${msum("l_extendedprice")} AS total
       |WHERE l_quantity > 10
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // DISTINCT ON — the routed STATEMENT twin of `c_distinct_on` (which
  // witnesses the DataFrame-side translation). The engine rewrites the
  // statement to the row_number window it is sugar for (round 16,
  // `Engine.distinctOnToWindow`), so the IDENTICAL text runs on both
  // engines: per order key keep the highest line number's row. The
  // (l_orderkey, l_linenumber) pair is unique, so both the survivor per
  // key and the final order are deterministic.
  val distinctOnRouted: String =
    """SELECT DISTINCT ON (l_orderkey)
      |  l_orderkey, l_linenumber, l_quantity
      |FROM lineitem
      |WHERE l_quantity > 30
      |ORDER BY l_orderkey, l_linenumber DESC
      |LIMIT 100""".stripMargin

  // PIVOT statement — the routed twin of `c_pivot_dynamic` (which runs
  // the DataFrame-side dynamic pivot against a DuckDB PIVOT oracle). The
  // engine routes the STATEMENT (round 16, `Engine.runPivotStatement`):
  // one DISTINCT pass discovers the key domain, then Spark's native
  // PIVOT clause runs over the discovered IN list — identical text on
  // both engines. COUNT keeps both sides BIGINT (a SUM over decimals
  // would hit the documented DECIMAL-rendering hash divergence).
  val pivotStmt: String =
    """PIVOT lineitem ON l_returnflag USING COUNT(*)
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // PIVOT without GROUP BY — DuckDB's PRIMARY documented spelling: group
  // by every column not referenced in ON/USING. The engine derives that
  // implicit key list from the FROM relation's analyzed schema
  // (round 17, `Engine.runPivotStatement`), so the IDENTICAL text runs
  // on both engines; the subquery source proves the derivation works
  // against computed columns, not just base tables. COUNT keeps both
  // sides BIGINT and exercises the 0-backfill parity.
  val pivotImplicit: String =
    """PIVOT (SELECT l_linestatus, CAST(l_quantity AS BIGINT) % 5 AS qb,
      |  l_returnflag FROM lineitem)
      |ON l_returnflag USING COUNT(*) ORDER BY l_linestatus, qb""".stripMargin

  // PIVOT as a parenthesized table expression (round 17): DuckDB allows
  // the PIVOT statement in subquery position; the engine substitutes
  // the SQL the statement desugars to in place
  // (`Engine.rewriteSubqueryBodies` + `pivotStatementSql`), so the
  // IDENTICAL text runs on both engines, with an outer projection
  // consuming the generated key columns.
  val pivotSubq: String =
    """SELECT l_linestatus, A + R AS ar FROM
      |(PIVOT lineitem ON l_returnflag USING COUNT(*) GROUP BY l_linestatus) p
      |ORDER BY l_linestatus""".stripMargin

  // UNPIVOT statement (round 17): DuckDB's wide-to-long statement form,
  // routed as a pure re-spelling onto Spark's UNPIVOT table-expression
  // clause (`Engine.unpivotStatementSql`) — IDENTICAL text on both
  // engines; both exclude NULL cells by default, so no adaptation.
  val unpivotStmt: String =
    """UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount
      |  FROM lineitem WHERE l_orderkey <= 30)
      |ON l_quantity, l_discount INTO NAME measure VALUE val
      |ORDER BY l_orderkey, l_linenumber, measure, val""".stripMargin

  // SELECT * EXCLUDE / REPLACE — DuckDB's star-modifier sugar (the second
  // dialect convenience a reference user types daily, next to QUALIFY).
  // Spark has no star modifiers, so the engine-side translation is the
  // desugared form the modifiers are DEFINED as: the table's columns in
  // declaration order, minus the EXCLUDE list, with each REPLACE
  // expression substituted in place under its original name. Pure
  // projection — no shuffle; the pruned column never leaves the scan.
  // Since the r16 follow-up BOTH star modifiers route (`Engine.
  // rewriteStarExclude` swaps the keyword; `rewriteStarReplace` desugars
  // REPLACE against the FROM relation's analyzed schema), so the witness
  // runs the IDENTICAL combined-modifier text on both engines.
  val excludeReplaceOracle: String =
    """SELECT * EXCLUDE (n_regionkey) REPLACE (upper(n_name) AS n_name)
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // The routed EXCLUDE twin (round 16): `Engine.rewriteStarExclude`
  // swaps the star-anchored EXCLUDE keyword for Spark's EXCEPT, so this
  // IDENTICAL text runs on both engines. REPLACE routes too (the
  // schema-aware desugar, `Engine.rewriteStarReplace`) — the combined
  // witness `c_sql_exclude_replace` above runs both modifiers verbatim.
  val excludeRouted: String =
    """SELECT * EXCLUDE (n_regionkey)
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ASOF JOIN routed (round 16): the typed statement twin of
  // `c_join_asof` (which witnesses the DataFrame-side union-window
  // formulation against this same DuckDB grammar). The engine rewrite
  // (`Engine.rewriteAsofJoin`) is the INTERVAL-JOIN formulation — the
  // right side gains lead(ts)-validity intervals and the join becomes a
  // plain equi-join with range filters — so the IDENTICAL text runs on
  // both engines. Output columns avoid timestamp rendering (engine date
  // formats differ); (user_id, ts) click pairs are unique in the
  // testdata, so the as-of pick is deterministic.
  val asofRouted: String =
    """SELECT p.event_id, p.user_id, c.value AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN
      |  (SELECT user_id, ts, value FROM events
      |   WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id LIMIT 2000""".stripMargin

  // DuckDB function-name compatibility pack (round 16,
  // `functions/DuckdbCompat` via SparkSessionExtensions): these two
  // witnesses run IDENTICAL text on both engines — DuckDB executes its
  // native functions, Spark executes the injected aliases, which build
  // the native Catalyst expressions (string_split spells its separator
  // as a regex that matches it literally; strftime's %-codes translate to
  // java.time patterns at plan time). NULLIF guards the one value-level
  // divergence met while building: DuckDB's array_to_string yields NULL
  // on an empty list where Spark's array_join yields ''.
  val duckdbListFns: String =
    """SELECT doc_id,
      |  NULLIF(array_to_string(list_transform(
      |    list_filter(string_split(text, ' '),
      |      w -> list_contains(string_split('data model train', ' '), w)),
      |    w -> upper(w)), ','), '') AS hits,
      |  NULLIF(CAST(list_position(string_split(text, ' '), 'the')
      |    AS BIGINT), 0) AS first_the,
      |  CAST(list_contains(string_split(text, ' '), 'data') AS INT)
      |    AS has_data
      |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin

  val duckdbTimeFns: String =
    """SELECT event_id,
      |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS t,
      |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |  epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
      |FROM events ORDER BY event_id LIMIT 500""".stripMargin

  // String/list breadth pack (round 17, `DuckdbCompat` additions):
  // len / array_length / starts_with / ends_with / list_append /
  // list_prepend / list_concat / list_slice as native Catalyst
  // expressions (list_slice with DuckDB's 1-based inclusive-end
  // semantics via the start/length shift; list_prepend with DuckDB's
  // (element, list) argument order), plus the SIMILAR TO predicate
  // rewritten to an anchored RLIKE (`Engine.rewriteSimilarTo` — the
  // standard's entire-string match over Spark's search semantics).
  // IDENTICAL text on both engines; counts CAST to BIGINT because the
  // engines' native width for len/array_length differs.
  val duckdbStrFns: String =
    """SELECT doc_id,
      |  CAST(len(text) AS BIGINT) AS n,
      |  CAST(starts_with(text, 'The') AS INT) AS st,
      |  CAST(ends_with(text, '.') AS INT) AS en,
      |  CAST(text SIMILAR TO '.*data.*' AS INT) AS has_data,
      |  CAST(array_length(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  array_to_string(list_slice(string_split(text, ' '), 1, 2), '_')
      |    AS first2,
      |  array_to_string(list_concat(list_prepend('a', ['b']),
      |    list_append(['c'], 'd')), ',') AS lc,
      |  regexp_replace(text, '[aeiou]', '_', 'g') AS re_g,
      |  CAST(regexp_matches(text, 'THE|DATA', 'i') AS INT) AS re_i
      |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin

  // Aggregate compat pack (round 17, `DuckdbCompat`): DuckDB's
  // signature arg_max/arg_min pick-the-row aggregates map to Spark's
  // native max_by/min_by, and quantile_cont to the native exact
  // interpolated `percentile` — IDENTICAL text on both engines. The
  // extreme prices are unique per status in the testdata (checked), so
  // the picks are deterministic; the quantile rounds to 4 dp to absorb
  // last-ulp interpolation-order differences.
  val duckdbAggFns: String =
    """SELECT o_orderstatus,
      |  arg_max(o_orderkey, o_totalprice) AS k_max,
      |  arg_min(o_orderkey, o_totalprice) AS k_min,
      |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS med
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // Date compat pack (round 18, `DuckdbCompat`): strptime (the parse
  // twin of strftime, same %-code translation), 3-arg date_diff /
  // datediff (DuckDB's BOUNDARIES-crossed count — calendar parts via
  // field arithmetic, clock parts via floor-divided epochs) and 3-arg
  // date_sub (COMPLETE intervals = Spark's native timestampdiff) —
  // IDENTICAL text on both engines, every result BIGINT/string so no
  // timestamp rendering divergence reaches the hash (strptime's value
  // is certified by the strftime round-trip re-rendering it).
  val duckdbDateFns: String =
    """SELECT o_orderkey,
      |  date_diff('day', DATE '1995-06-15', o_orderdate) AS dd,
      |  date_diff('month', DATE '1995-06-15', o_orderdate) AS dm,
      |  date_diff('quarter', DATE '1995-06-15', o_orderdate) AS dq,
      |  date_diff('year', DATE '1995-06-15', o_orderdate) AS dy,
      |  date_diff('week', DATE '1995-06-12', o_orderdate) AS dw,
      |  date_diff('hour', TIMESTAMP '1995-06-15 06:30:00', o_orderdate)
      |    AS dh,
      |  date_diff('minute', TIMESTAMP '1995-06-15 06:30:30', o_orderdate)
      |    AS dmin,
      |  date_sub('month', DATE '1995-06-15', o_orderdate) AS sm,
      |  datediff('day', DATE '1995-06-15', o_orderdate) AS dd2,
      |  strftime(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d'),
      |    '%d/%m/%Y') AS rt,
      |  strftime(date_add(o_orderdate, INTERVAL 35 DAY), '%Y-%m-%d')
      |    AS da_d,
      |  strftime(date_add(o_orderdate, INTERVAL 2 MONTH), '%Y-%m-%d')
      |    AS da_m
      |FROM orders WHERE o_orderkey <= 8000 ORDER BY o_orderkey"""
      .stripMargin

  // list_aggregate (round 18, `DuckdbCompat`): DuckDB's
  // apply-an-aggregate-to-a-list function over min/max/count/sum —
  // IDENTICAL text; results cast to BIGINT because the engines' native
  // sum/count widths differ (DuckDB HUGEINT/UBIGINT vs Spark INT/LONG).
  val listAggregateFns: String =
    """SELECT doc_id,
      |  CAST(list_aggregate(list_transform(string_split(text, ' '),
      |    w -> len(w)), 'sum') AS BIGINT) AS chars,
      |  CAST(list_aggregate(list_transform(string_split(text, ' '),
      |    w -> len(w)), 'max') AS BIGINT) AS longest,
      |  CAST(list_aggregate(string_split(text, ' '), 'count') AS BIGINT)
      |    AS nw,
      |  array_to_string(list_reverse(list_slice(string_split(text, ' '),
      |    1, 3)), '_') AS rev3,
      |  CAST(list_unique(string_split(text, ' ')) AS BIGINT) AS uniq,
      |  CAST(list_has_any(string_split(text, ' '), ['the', 'and'])
      |    AS INT) AS has_any,
      |  CAST(list_has_all(string_split(text, ' '), ['the', 'of'])
      |    AS INT) AS has_both
      |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin

  // UNION ALL BY NAME (round 18, `Engine.rewriteUnionByName`): DuckDB's
  // column-name union — missing columns NULL-fill, output columns in
  // first-appearance order — desugared against the branches' analyzed
  // schemas into aligned positional branches. IDENTICAL text; the ORDER
  // BY spells NULLS FIRST explicitly because the engines' default null
  // order differs (Spark ASC = NULLS FIRST, DuckDB ASC = NULLS LAST).
  val unionByName: String =
    """SELECT o_orderstatus AS st, COUNT(*) AS n FROM orders
      |GROUP BY o_orderstatus
      |UNION ALL BY NAME
      |SELECT COUNT(*) AS n, l_returnflag AS rf FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY st NULLS FIRST, rf NULLS FIRST, n""".stripMargin

  // Collect/histogram aggregates (round 18, `DuckdbCompat`): `list(x)`
  // keeps NULL elements on both engines (the compat builder wraps
  // elements in a never-null struct so Spark's collect_list cannot drop
  // them), `histogram(x)` is the native TypedImperativeAggregate
  // (`graft.functions.Histogram` — key-sorted map, NULLs skipped, the
  // same two-phase partial aggregation as builtin hash aggs). Element
  // ORDER of list() is undefined in both engines, so every collected
  // list passes through list_sort before rendering, and the map renders
  // through map_entries → 'k:v' strings — the canonical-sort discipline
  // that makes cross-engine hashes meaningful. IDENTICAL text.
  val duckdbListAgg: String =
    """SELECT o_orderpriority,
      |  array_to_string(list_transform(map_entries(histogram(o_orderstatus)),
      |    e -> concat(e.key, ':', e.value)), ',') AS hist,
      |  array_to_string(list_transform(list_sort(
      |    list(CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END)),
      |    e -> coalesce(e, 'NUL')), '') AS statuses,
      |  array_to_string(list_sort(list(o_orderkey % 7)), '|') AS ks
      |FROM orders WHERE o_orderkey <= 1000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // Window-function breadth (round 18, VERDICT r17 #7): nth_value over
  // an explicit full frame, a filtered window count, and mode() as a
  // WINDOW aggregate — the small window-family gaps a migrating analyst
  // hits. IDENTICAL text on both engines. The filtered count spells
  // CASE, not FILTER: Spark rejects FILTER on window aggregates
  // ("not supported yet") and the CASE form is the portable
  // equivalent both engines accept. Determinism: nth_value's frame is
  // the whole partition under a unique ORDER BY; mode's operand is a
  // 70/30 split over each ~thousands-row priority partition, so a tie
  // (the one nondeterministic case in both engines) is statistically
  // impossible at any tested SF.
  val windowBreadth: String =
    """SELECT o_orderkey,
      |  nth_value(o_totalprice, 2) OVER w AS p2,
      |  CAST(count(CASE WHEN o_totalprice > 150000 THEN 1 END) OVER w
      |    AS BIGINT) AS n_big,
      |  mode(CASE WHEN o_orderkey % 10 < 7 THEN 'lo' ELSE 'hi' END)
      |    OVER (PARTITION BY o_orderpriority) AS m
      |FROM orders WHERE o_orderkey <= 2000
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin

  // generate_series / unnest (round 16, `DuckdbCompat`): DuckDB's
  // inclusive-end series table function maps onto Spark's native Range
  // leaf (bound shifted one step-sign), and select-position unnest maps
  // to explode — IDENTICAL text on both engines, with the column alias
  // DuckDB queries use anyway absorbing the output-name difference.
  val seriesUnnest: String =
    """WITH s AS (SELECT x FROM generate_series(2, 10, 2) t(x)),
      |u AS (SELECT unnest(string_split('alpha beta gamma', ' ')) AS w)
      |SELECT x, w FROM s, u ORDER BY x, w""".stripMargin

  // USING SAMPLE routed (round 16): sample VALUES can never hash-match
  // across engines (independent RNGs — `c_sample_hash` carries the
  // portable hash-sampling discipline), so the grammar witness runs at
  // 100% where both samplers are the identity: the IDENTICAL text
  // certifies the `USING SAMPLE` → `TABLESAMPLE` shim end to end while
  // staying deterministic.
  val sampleRouted: String =
    """SELECT COUNT(*) AS n, CAST(SUM(l_linenumber) AS BIGINT) AS s
      |FROM lineitem USING SAMPLE 100 PERCENT (bernoulli)""".stripMargin

  // Named windows (the WINDOW clause): one definition shared by several
  // window functions — supported verbatim by BOTH engines, so this runs
  // unchanged in each. rank and lag share w; the (price DESC, key) order
  // is total (o_orderkey unique), so both functions are deterministic at
  // any parallelism. The WHERE prunes before the window shuffle.
  val windowNamed: String =
    """SELECT o_orderstatus, o_orderkey, o_totalprice,
      |  rank() OVER w AS rnk,
      |  lag(o_orderkey) OVER w AS prev_key
      |FROM orders
      |WHERE o_orderkey % 50 = 0
      |WINDOW w AS (PARTITION BY o_orderstatus
      |             ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderstatus, rnk""".stripMargin

  // --- Write-side SQL: CREATE TABLE AS + INSERT INTO (VERDICT r13 #1) ----
  //
  // The reference's delegation point passes arbitrary SQL to DuckDB
  // (/root/reference/src/duckdb.ts:46-49) and the app itself authors DDL
  // (/root/reference/src/App.tsx:316-327), so materializing a query as a
  // TABLE and appending to it is reference surface. Spark's analog is the
  // session catalog's managed parquet table (the same machinery
  // Layout.bucketedPair already leans on via saveAsTable): CTAS plans the
  // SELECT through Catalyst and runs a distributed parquet write — at
  // 100 TB it IS an insert-overwrite job, partitioned like any other
  // write — and INSERT INTO appends files to the same table. The script
  // runs through Engine.runScript (the B30 statement-at-cursor path), so
  // the witness certifies lexer → DDL exec → DML append → read-back as one
  // user flow. DROP TABLE IF EXISTS up front makes every invocation
  // self-contained (Verify/Bench call each query up to 3×); the table name
  // carries the sfDir hash + pid so concurrent harness JVMs and different
  // scale factors never collide in the shared warehouse.
  private def ctasTable(dir: String): String =
    s"graft_ctas_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  private def corTable(dir: String): String =
    s"graft_cor_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  /** CREATE OR REPLACE TABLE — DuckDB's idempotent-script idiom (this
    * repo's own DuckDB oracles use it). Spark's v1 catalog rejects
    * REPLACE TABLE, so the engine routes drop-if-exists + create
    * (round 16). The script replaces a table twice with different
    * contents and reads the survivor: a broken route would either throw
    * (Spark's native rejection) or read the FIRST contents. */
  def createReplaceScript(dir: String): String = {
    val t = corTable(dir)
    s"""CREATE OR REPLACE TABLE $t AS
       |  SELECT o_orderkey, o_totalprice FROM orders
       |  WHERE o_totalprice > 400000;
       |CREATE OR REPLACE TABLE $t AS
       |  SELECT o_orderkey, o_totalprice FROM orders
       |  WHERE o_totalprice > 300000;
       |SELECT COUNT(*) AS n, ${msum("o_totalprice")} AS total FROM $t;"""
      .stripMargin
  }

  val createReplaceOracle: String =
    s"""CREATE OR REPLACE TEMP TABLE graft_cor_oracle AS
       |  SELECT o_orderkey, o_totalprice FROM orders
       |  WHERE o_totalprice > 400000;
       |CREATE OR REPLACE TEMP TABLE graft_cor_oracle AS
       |  SELECT o_orderkey, o_totalprice FROM orders
       |  WHERE o_totalprice > 300000;
       |SELECT COUNT(*) AS n, ${msum("o_totalprice")} AS total
       |FROM graft_cor_oracle;""".stripMargin

  def ctasScript(dir: String): String = {
    val t = ctasTable(dir)
    s"""DROP TABLE IF EXISTS $t;
       |CREATE TABLE $t AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_totalprice > 300000;
       |INSERT INTO $t
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_totalprice < 5000;
       |INSERT INTO $t VALUES
       |  (CAST(-1 AS BIGINT), 'X', CAST(123.25 AS DOUBLE)),
       |  (CAST(-2 AS BIGINT), 'X', CAST(67.5 AS DOUBLE));
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM $t
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin
  }

  /** Oracle: the SAME script shape on a DuckDB temp table (DuckDB's
    * Python runner executes multi-statement scripts and returns the last
    * result — the driver compare consumes exactly that). CREATE OR
    * REPLACE keeps a shared oracle connection idempotent. */
  val ctasOracle: String =
    s"""CREATE OR REPLACE TEMP TABLE graft_ctas_oracle AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_totalprice > 300000;
       |INSERT INTO graft_ctas_oracle
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_totalprice < 5000;
       |INSERT INTO graft_ctas_oracle VALUES
       |  (CAST(-1 AS BIGINT), 'X', CAST(123.25 AS DOUBLE)),
       |  (CAST(-2 AS BIGINT), 'X', CAST(67.5 AS DOUBLE));
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM graft_ctas_oracle
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  // --- SQL macro: CREATE TEMPORARY FUNCTION ↔ CREATE MACRO (r13 #3) ------
  //
  // DuckDB's scalar CREATE MACRO is the editor user's abstraction tool;
  // Spark 4's SQL function DDL (CREATE TEMPORARY FUNCTION … RETURN expr)
  // is the exact analog — a named SQL expression expanded at plan time,
  // so the macro body inlines into codegen like any hand-written
  // expression: zero UDF-invocation cost at any scale. Both sides DEFINE
  // the macro in their own DDL and then CALL it from the same query
  // shape. The macro body works in DECIMALS end to end: the stored 2-dp
  // doubles cast exactly, the decimal multiply and sum are exact integer
  // arithmetic in both engines, and only the final CAST AS DOUBLE rounds
  // (both engines round the same exact decimal to the same nearest
  // double). A double-arithmetic body would NOT hash-match: Spark casts
  // double→decimal on the exact binary expansion while DuckDB rounds
  // after an IEEE ×100, and products near a .005 boundary land on
  // opposite sides.
  private val discBody: String =
    """CAST(p AS DECIMAL(18,2)) *
      |  (CAST(1.0 AS DECIMAL(18,2)) - CAST(d AS DECIMAL(18,2)))"""
      .stripMargin

  val macroScript: String =
    s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc(p DOUBLE, d DOUBLE)
       |  RETURNS DECIMAL(38,4) RETURN $discBody;
       |SELECT l_returnflag, COUNT(*) AS n,
       |  CAST(SUM(graft_disc(l_extendedprice, l_discount)) AS DOUBLE)
       |    AS revenue
       |FROM lineitem
       |GROUP BY l_returnflag ORDER BY l_returnflag;""".stripMargin

  val macroOracle: String =
    s"""CREATE OR REPLACE MACRO graft_disc(p, d) AS
       |  $discBody;
       |SELECT l_returnflag, COUNT(*) AS n,
       |  CAST(SUM(graft_disc(l_extendedprice, l_discount)) AS DOUBLE)
       |    AS revenue
       |FROM lineitem
       |GROUP BY l_returnflag ORDER BY l_returnflag;""".stripMargin

  // r18: the verbatim CREATE MACRO statement now ROUTES (Engine
  // registers an untyped plan-time-expansion function, the faithful
  // analog of DuckDB's macro binder), so this witness runs the
  // IDENTICAL DuckDB-spelled script on both engines — the definition
  // through `Engine.runScript`, the call expanding into codegen exactly
  // like the TEMPORARY FUNCTION twin above. Distinct macro name so the
  // two witnesses never race on one registry slot in a shared session.
  val macroDuckScript: String =
    s"""CREATE OR REPLACE MACRO graft_discm(p, d) AS
       |  $discBody;
       |SELECT l_returnflag, COUNT(*) AS n,
       |  CAST(SUM(graft_discm(l_extendedprice, l_discount)) AS DOUBLE)
       |    AS revenue
       |FROM lineitem
       |GROUP BY l_returnflag ORDER BY l_returnflag;""".stripMargin

  // --- PREPARE / EXECUTE: parameterized snippets (r18) --------------------
  //
  // Same text on both engines: DuckDB prepares/binds natively; the
  // engine routes PREPARE as stored text and EXECUTE as quote-aware
  // `$n` substitution through the full router (`Engine.bindPrepared`).
  // Two EXECUTEs with different bindings prove the re-binding (the
  // script's last statement is the comparison surface, so the second
  // binding's result is what both engines hash).
  val prepareScript: String =
    s"""PREPARE graft_prep AS
       |  SELECT o_orderstatus, COUNT(*) AS n,
       |    ${msum("o_totalprice")} AS total
       |  FROM orders WHERE o_totalprice > $$1 AND o_orderkey <= $$2
       |  GROUP BY o_orderstatus ORDER BY o_orderstatus;
       |EXECUTE graft_prep(350000, 40000);
       |EXECUTE graft_prep(100000, 20000);""".stripMargin

  // Named parameters in their OWN script: DuckDB's multi-statement
  // execute refuses scripts mixing named and positional parameter
  // styles ("not supported yet"), so the named twin stays separate —
  // same text on both engines either way.
  val prepareNamedScript: String =
    s"""PREPARE graft_prep_n AS
       |  SELECT o_orderstatus, COUNT(*) AS n
       |  FROM orders WHERE o_totalprice > $$lo AND o_totalprice < $$hi
       |  GROUP BY o_orderstatus ORDER BY o_orderstatus;
       |EXECUTE graft_prep_n(lo := 100000, hi := 250000);""".stripMargin

  // --- User-typed DML through the engine's SQL route (r15) ----------------
  //
  // The reference's editor accepts DELETE/UPDATE against any table the
  // user created (the delegation point runs arbitrary DuckDB SQL); Spark's
  // session-catalog parquet tables reject DML outright, so `Engine.sql`
  // routes those statements to the copy-on-write rewriter
  // (`engine/Dml.scala`) and refreshes the table. This witness runs the
  // full user flow — CTAS → DELETE → multi-assignment UPDATE → read-back —
  // through the `Engine.runScript` lexer path; the oracle replays the
  // IDENTICAL statements as native DuckDB DML, so a hash match certifies
  // the routed rewrite implements real DML semantics (NULL-predicate
  // rows kept, all UPDATE right-hand sides reading the OLD row, rows
  // outside the predicates untouched).
  private def dmlSqlTable(dir: String): String =
    s"graft_dmlsql_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  def dmlSqlScript(dir: String): String = {
    val t = dmlSqlTable(dir)
    s"""DROP TABLE IF EXISTS $t;
       |CREATE TABLE $t AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 3000;
       |DELETE FROM $t WHERE o_totalprice < 50000;
       |UPDATE $t SET o_totalprice = o_totalprice * 2, o_orderstatus = 'U'
       |  WHERE o_totalprice > 400000;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM $t
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin
  }

  val dmlSqlOracle: String =
    s"""CREATE OR REPLACE TEMP TABLE graft_dmlsql_oracle AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 3000;
       |DELETE FROM graft_dmlsql_oracle WHERE o_totalprice < 50000;
       |UPDATE graft_dmlsql_oracle
       |  SET o_totalprice = o_totalprice * 2, o_orderstatus = 'U'
       |  WHERE o_totalprice > 400000;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM graft_dmlsql_oracle
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  // --- User-typed MERGE INTO through the engine's SQL route (r16) ---------
  //
  // The canonical upsert statement, typed as SQL and routed by
  // `Engine.runDml`'s parsed MERGE to the copy-on-write merge
  // (`Dml.mergeIntoAll`): matched keys take the source's columns via a
  // broadcast left join inside the file rewrite, fresh keys append as new
  // files, and the WHEN-NOT-MATCHED existence check reads only files
  // whose key-range footer stats overlap the source's key span. The
  // oracle replays the UPDATE-then-INSERT script MERGE is defined as for
  // this source (branch keys are disjoint by construction: matched keys
  // are existing evens ≤ 600, inserts carry a +9,000,000 offset), so a
  // hash match certifies both branches through the full user flow —
  // lexer → CTAS → temp-view source → routed MERGE → read-back.
  private def mergeSqlTable(dir: String): String =
    s"graft_mrgsql_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  def mergeSqlScript(dir: String): String = {
    val t = mergeSqlTable(dir)
    s"""DROP TABLE IF EXISTS $t;
       |CREATE TABLE $t AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 3000;
       |CREATE OR REPLACE TEMP VIEW ${t}_src AS
       |  SELECT o_orderkey, 'M' AS o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice
       |  FROM orders WHERE o_orderkey <= 600 AND o_orderkey % 2 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 9000000, 'N', CAST(100.25 AS DOUBLE)
       |  FROM orders WHERE o_orderkey <= 600 AND o_orderkey % 3 = 0;
       |MERGE INTO $t USING ${t}_src
       |  ON $t.o_orderkey = ${t}_src.o_orderkey
       |  WHEN MATCHED THEN UPDATE SET
       |    o_orderstatus = ${t}_src.o_orderstatus,
       |    o_totalprice = ${t}_src.o_totalprice
       |  WHEN NOT MATCHED THEN INSERT *;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total,
       |  MIN(o_orderkey) AS k_min, MAX(o_orderkey) AS k_max
       |FROM $t
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin
  }

  val mergeSqlOracle: String =
    s"""CREATE OR REPLACE TEMP TABLE graft_mrgsql_oracle AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 3000;
       |UPDATE graft_mrgsql_oracle
       |  SET o_orderstatus = 'M', o_totalprice = o_totalprice * 2
       |  WHERE o_orderkey <= 600 AND o_orderkey % 2 = 0;
       |INSERT INTO graft_mrgsql_oracle
       |  SELECT o_orderkey + 9000000, 'N', CAST(100.25 AS DOUBLE)
       |  FROM orders WHERE o_orderkey <= 600 AND o_orderkey % 3 = 0;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total,
       |  MIN(o_orderkey) AS k_min, MAX(o_orderkey) AS k_max
       |FROM graft_mrgsql_oracle
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  // --- DELETE … USING through the engine's SQL route (r17) ----------------
  //
  // The DuckDB/Postgres join delete: remove target rows for which SOME
  // source row satisfies the condition. `Engine.runDeleteUsing` executes
  // it as the copy-on-write rewrite with a LEFT ANTI join against the
  // broadcast source — anti-join retention IS the statement's
  // EXISTS-delete semantics. The oracle replays the IDENTICAL statement
  // shape natively on a temp-table copy.
  private def delUsingTable(dir: String): String =
    s"graft_delu_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  def deleteUsingScript(dir: String): String = {
    val t = delUsingTable(dir)
    s"""DROP TABLE IF EXISTS $t;
       |CREATE TABLE $t AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 3000;
       |CREATE OR REPLACE TEMP VIEW ${t}_del AS
       |  SELECT o_orderkey FROM orders
       |  WHERE o_orderkey <= 600 AND o_orderkey % 2 = 0;
       |DELETE FROM $t USING ${t}_del
       |  WHERE $t.o_orderkey = ${t}_del.o_orderkey;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM $t
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin
  }

  val deleteUsingOracle: String =
    s"""CREATE OR REPLACE TEMP TABLE graft_delu_oracle AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 3000;
       |CREATE OR REPLACE TEMP VIEW graft_delu_oracle_del AS
       |  SELECT o_orderkey FROM orders
       |  WHERE o_orderkey <= 600 AND o_orderkey % 2 = 0;
       |DELETE FROM graft_delu_oracle USING graft_delu_oracle_del
       |  WHERE graft_delu_oracle.o_orderkey = graft_delu_oracle_del.o_orderkey;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM graft_delu_oracle
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  // --- UPDATE … FROM through the engine's SQL route (r17) -----------------
  //
  // The DuckDB/Postgres join update — the matched-branch half of MERGE
  // typed as an UPDATE. `Engine.runUpdateFrom` routes the same-named
  // equi-key + same-named assignment shape onto the UPDATE-only merge
  // (`Dml.updateFromAll`): matched keys take the source's columns via
  // the key-span-pruned broadcast rewrite, absent keys do nothing. The
  // oracle replays the IDENTICAL statement natively on a temp copy.
  private def updateFromTable(dir: String): String =
    s"graft_updf_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  def updateFromScript(dir: String): String = {
    val t = updateFromTable(dir)
    s"""DROP TABLE IF EXISTS $t;
       |CREATE TABLE $t AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 3000;
       |CREATE OR REPLACE TEMP VIEW ${t}_src AS
       |  SELECT o_orderkey, 'J' AS o_orderstatus,
       |    o_totalprice * 3 AS o_totalprice
       |  FROM orders WHERE o_orderkey <= 600 AND o_orderkey % 5 = 0;
       |UPDATE $t SET o_orderstatus = ${t}_src.o_orderstatus,
       |    o_totalprice = ${t}_src.o_totalprice
       |  FROM ${t}_src WHERE $t.o_orderkey = ${t}_src.o_orderkey;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM $t
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin
  }

  val updateFromOracle: String =
    s"""CREATE OR REPLACE TEMP TABLE graft_updf_oracle AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 3000;
       |CREATE OR REPLACE TEMP VIEW graft_updf_oracle_src AS
       |  SELECT o_orderkey, 'J' AS o_orderstatus,
       |    o_totalprice * 3 AS o_totalprice
       |  FROM orders WHERE o_orderkey <= 600 AND o_orderkey % 5 = 0;
       |UPDATE graft_updf_oracle
       |  SET o_orderstatus = graft_updf_oracle_src.o_orderstatus,
       |    o_totalprice = graft_updf_oracle_src.o_totalprice
       |  FROM graft_updf_oracle_src
       |  WHERE graft_updf_oracle.o_orderkey = graft_updf_oracle_src.o_orderkey;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM graft_updf_oracle
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  // --- INSERT … ON CONFLICT through the engine's SQL route (r17) ----------
  //
  // DuckDB's native upsert spelling, routed by `Engine.sql` onto the same
  // copy-on-write merge the MERGE statement uses (`Engine.runUpsert` →
  // `Dml.mergeIntoAll` / `Dml.insertOnlyAll`). The witness runs BOTH
  // conflict actions: a DO UPDATE whose source mixes matched keys
  // (existing evens ≤ 600 take the proposed row) with fresh keys (+9M
  // offset appends), then a DO NOTHING whose source mixes keys the
  // previous statement just created (dropped) with genuinely fresh ones
  // (inserted). The oracle replays the IDENTICAL INSERT … ON CONFLICT
  // statements against DuckDB's native upsert on a PRIMARY-KEY temp
  // table (DuckDB requires the unique index; the engine enforces the
  // equivalent source-key-uniqueness guard at run time), so a hash match
  // certifies both actions end to end through the lexer → CTAS → routed
  // upsert → read-back flow.
  private def upsertTable(dir: String): String =
    s"graft_ups_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  private def upsertStatements(t: String): String =
    s"""INSERT INTO $t
       |  SELECT o_orderkey, 'U' AS o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice
       |  FROM orders WHERE o_orderkey <= 600 AND o_orderkey % 2 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 9000000, 'V', CAST(55.25 AS DOUBLE)
       |  FROM orders WHERE o_orderkey <= 600 AND o_orderkey % 3 = 0
       |  ON CONFLICT (o_orderkey) DO UPDATE SET
       |    o_orderstatus = EXCLUDED.o_orderstatus,
       |    o_totalprice = EXCLUDED.o_totalprice;
       |INSERT INTO $t
       |  SELECT o_orderkey + 9000000, 'W', CAST(1.5 AS DOUBLE) FROM orders
       |  WHERE o_orderkey <= 900 AND o_orderkey % 3 = 0
       |  ON CONFLICT (o_orderkey) DO NOTHING;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total,
       |  MIN(o_orderkey) AS k_min, MAX(o_orderkey) AS k_max
       |FROM $t
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  def upsertScript(dir: String): String = {
    val t = upsertTable(dir)
    s"""DROP TABLE IF EXISTS $t;
       |CREATE TABLE $t AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 3000;
       |${upsertStatements(t)}""".stripMargin
  }

  val upsertOracle: String =
    s"""CREATE OR REPLACE TEMP TABLE graft_ups_oracle (o_orderkey BIGINT
       |  PRIMARY KEY, o_orderstatus VARCHAR, o_totalprice DOUBLE);
       |INSERT INTO graft_ups_oracle
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 3000;
       |${upsertStatements("graft_ups_oracle")}""".stripMargin

  // --- User-typed COPY … TO through the engine's SQL route (r16) ----------
  //
  // DuckDB's export statement, routed by `Engine.sql` to the distributed
  // writers (`Export.writeParquet` here). The witness runs the full user
  // flow — COPY a SELECT out to a parquet directory, then read the
  // DIRECTORY back through the quoted-path-table rewrite and aggregate —
  // so a hash match against the oracle's direct aggregate of the same
  // SELECT certifies the write→read round trip is the identity (parquet
  // is exact for these types; the csv/json writer legs are certified by
  // ExportSpec's round-trip properties and the EngineSpec COPY test).
  private def copyOutDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_copy_" +
      s"${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}.parquet"

  def copySqlScript(dir: String): String = {
    val p = copyOutDir(dir)
    s"""COPY (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey % 7 = 0) TO '$p' (FORMAT parquet);
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM '$p'
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin
  }

  val copySqlOracle: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM orders WHERE o_orderkey % 7 = 0
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  // COPY FROM round trip (round 16): export through the engine's
  // distributed COPY TO, import back through the routed COPY FROM
  // (positional, typed by the target table — DuckDB semantics), and
  // aggregate the landed table. The oracle replays the identical script
  // shape with its own file path (each engine reads the bytes IT wrote;
  // the cross-engine check is the final aggregate hash).
  private def copyFromDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cpf_" +
      s"${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}.csv"
  private def copyFromTable(dir: String): String =
    s"graft_cpf_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  def copyFromScript(dir: String): String = {
    val p = copyFromDir(dir)
    val t = copyFromTable(dir)
    s"""DROP TABLE IF EXISTS $t;
       |CREATE TABLE $t (o_orderkey BIGINT, o_totalprice DOUBLE);
       |COPY (SELECT o_orderkey, o_totalprice FROM orders
       |  WHERE o_totalprice > 400000) TO '$p' (FORMAT csv, HEADER);
       |COPY $t FROM '$p' (FORMAT csv, HEADER);
       |SELECT COUNT(*) AS n, ${msum("o_totalprice")} AS total FROM $t;"""
      .stripMargin
  }

  // pid-scoped like the engine-side script (copyFromDir/copyFromTable):
  // two concurrent bench/oracle runs must not clobber each other's
  // export file and hash-compare against the other run's data. The pid
  // is this JVM's — baked in when Verify dumps oracle_sql.json, so the
  // driver's DuckDB replay of THIS dump stays self-consistent.
  private def copyFromOraclePath: String =
    s"/tmp/graft_cpf_oracle_p${ProcessHandle.current.pid}.csv"

  val copyFromOracle: String = {
    val t = s"graft_cpf_oracle_p${ProcessHandle.current.pid}"
    s"""CREATE OR REPLACE TEMP TABLE $t
       |  (o_orderkey BIGINT, o_totalprice DOUBLE);
       |COPY (SELECT o_orderkey, o_totalprice FROM orders
       |  WHERE o_totalprice > 400000)
       |  TO '$copyFromOraclePath' (FORMAT csv, HEADER);
       |COPY $t FROM '$copyFromOraclePath'
       |  (FORMAT csv, HEADER);
       |SELECT COUNT(*) AS n, ${msum("o_totalprice")} AS total
       |FROM $t;""".stripMargin
  }

  // GLOB predicate (round 18, `Engine.rewriteGlob`): DuckDB's
  // SQLite-lineage glob match — case-sensitive, whole-string, * ? and
  // [!..] classes — rewritten to the anchored RLIKE it means, literal
  // patterns only (same scanner discipline as SIMILAR TO). IDENTICAL
  // text on both engines; all three metacharacter kinds exercised.
  val globPredicate: String =
    """SELECT doc_id, source FROM documents
      |WHERE text GLOB 'data*' AND source GLOB 'src[0-9]'
      |  AND NOT source GLOB 'src[!0-5]'
      |ORDER BY doc_id LIMIT 200""".stripMargin

  // CREATE TEMP TABLE (round 18): DuckDB scripts lean on temp tables
  // as writable scratch space; Spark has only lazily-evaluated temp
  // VIEWS, so the route materializes the statement as a catalog table
  // (writable, INSERT-able, DML-routable — every behavior the script
  // depends on) with the documented lifetime divergence (until DROP,
  // not session end). IDENTICAL script text on both engines, DROPped
  // first so re-runs are idempotent; the INSERT proves the temp table
  // is writable through the same text.
  // PRIMARY KEY + INSERT OR REPLACE / OR IGNORE (round 19): the routed
  // column-list CREATE TABLE registers the declared key, the shorthand
  // upserts resolve their conflict target from it, and the plain INSERT
  // takes the enforced route (NULL/batch/table uniqueness checked
  // before any write — the refusal rails are EngineSpec's). IDENTICAL
  // text on both engines; the oracle runs its native constraint. The
  // final aggregate partitions rows by which statement last touched
  // them: n=0 untouched initial rows, n=1 REPLACEd-or-inserted by the
  // OR REPLACE wave, n=2 fresh keys landed by the OR IGNORE wave
  // (whose overlap with existing keys must be ignored, not error).
  val pkUpsertScript: String =
    s"""DROP TABLE IF EXISTS graft_pk_tbl;
       |CREATE TEMP TABLE graft_pk_tbl (
       |  k BIGINT PRIMARY KEY, s VARCHAR, n BIGINT);
       |INSERT INTO graft_pk_tbl
       |  SELECT o_orderkey, o_orderstatus, 0 FROM orders
       |  WHERE o_orderkey <= 300;
       |INSERT OR REPLACE INTO graft_pk_tbl
       |  SELECT o_orderkey, o_orderpriority, 1 FROM orders
       |  WHERE o_orderkey BETWEEN 200 AND 400;
       |INSERT OR IGNORE INTO graft_pk_tbl
       |  SELECT o_orderkey, 'ignored', 2 FROM orders
       |  WHERE o_orderkey BETWEEN 350 AND 500;
       |SELECT n, COUNT(*) AS cnt, MIN(k) AS kmin, MAX(k) AS kmax,
       |  COUNT(DISTINCT s) AS ds
       |FROM graft_pk_tbl GROUP BY n ORDER BY n;""".stripMargin

  // Compat battery 7 (round 19): jaro_similarity /
  // jaro_winkler_similarity (BYTE-based with DuckDB's measured edge
  // order and the 0.7 boost threshold — both float associations pinned
  // bitwise on 3000/3000 fuzzed pairs each) and the AT TIME ZONE
  // operator (Spark's grammar lacks it; the shim maps naive→instant to
  // to_utc_timestamp and instant→naive to from_utc_timestamp, chains
  // rewriting left-to-right — both engines read the same IANA rules).
  // IDENTICAL text; the chained form ends at a naive wall time and the
  // output renders through strftime — Spark's converted timestamp is
  // LTZ-typed (parquet-annotated UTC-adjusted, which pandas reads
  // tz-aware) while DuckDB's cast is naive, so the string render is
  // the type-free hash surface.
  val compat7: String =
    """SELECT o_orderkey,
      |  jaro_similarity(o_orderpriority, 'URGENT') AS js,
      |  jaro_similarity(o_orderpriority, o_orderstatus) AS js2,
      |  jaro_winkler_similarity(o_orderpriority, '1-URGENT') AS jw,
      |  jaro_winkler_similarity(o_orderstatus || 'xyz',
      |    o_orderstatus || 'xzy') AS jw2,
      |  strftime(CAST(o_orderdate AT TIME ZONE 'America/New_York'
      |    AT TIME ZONE 'UTC' AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
      |    AS ny_utc,
      |  strftime(CAST(o_orderdate AT TIME ZONE 'Asia/Tokyo'
      |    AT TIME ZONE 'Europe/Paris' AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
      |    AS tok_par
      |FROM orders
      |WHERE o_orderkey <= 800
      |ORDER BY o_orderkey""".stripMargin

  // IGNORE NULLS / RESPECT NULLS window modifiers (round 19): DuckDB
  // spells them INSIDE the call parens (`lag(x, 1 IGNORE NULLS)`),
  // Spark between the call and OVER — the engine's shim moves the
  // modifier across the closing paren. IDENTICAL text (DuckDB's
  // spelling); nulls manufactured deterministically from the key.
  val ignoreNulls: String =
    """SELECT o_orderkey,
      |  first_value(CASE WHEN o_orderkey % 3 = 0 THEN NULL
      |      ELSE o_orderstatus END IGNORE NULLS)
      |    OVER (ORDER BY o_orderkey
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS fv,
      |  last_value(CASE WHEN o_orderkey % 4 = 0 THEN NULL
      |      ELSE o_totalprice END IGNORE NULLS)
      |    OVER (ORDER BY o_orderkey
      |          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS lv,
      |  lag(CASE WHEN o_orderkey % 2 = 0 THEN NULL
      |      ELSE o_orderkey END, 1 IGNORE NULLS)
      |    OVER (ORDER BY o_orderkey) AS lg,
      |  lead(CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |      ELSE o_orderkey END, 1 RESPECT NULLS)
      |    OVER (ORDER BY o_orderkey) AS ld
      |FROM orders
      |WHERE o_orderkey <= 600
      |ORDER BY o_orderkey""".stripMargin

  // Compat battery 8 (round 19): quantile_disc / quantile (the exact
  // discrete quantile — an order statistic; the 1-based ceil(q·n) index
  // rule pinned on 500/500 fuzzed draws) and the star forms of
  // COLUMNS — COLUMNS(* EXCLUDE (…)) expands against the analyzed
  // schema inside a SUBQUERY body (the re-entrant pipeline). Bare
  // expansion keeps column names identical on both engines. IDENTICAL
  // text; quantile_disc returns an existing value, hash-exact.
  val compat8: String =
    """SELECT o_orderstatus,
      |  quantile_disc(o_totalprice, 0.5) AS q50,
      |  quantile_disc(o_totalprice, 0.9) AS q90,
      |  quantile(o_orderkey, 0.25) AS qk25,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM (SELECT COLUMNS(* EXCLUDE (o_orderdate, o_orderpriority,
      |        o_custkey))
      |      FROM orders)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // Scalar generate_series / range (round 19): SELECT-position list
  // forms with COLUMN bounds — end-inclusive vs end-exclusive, the
  // empty wrong-direction span, and a negative step. IDENTICAL text;
  // lists render through the NULLIF(array_to_string(…), '') discipline
  // (DuckDB renders an empty list as NULL, Spark as '' — same rows
  // either way after the wrap).
  val seriesScalar: String =
    """SELECT o_orderkey,
      |  NULLIF(array_to_string(
      |    generate_series(1, o_orderkey % 4), ','), '') AS gs,
      |  NULLIF(array_to_string(
      |    range(o_orderkey % 3, 4), ','), '') AS rg,
      |  NULLIF(array_to_string(
      |    generate_series(o_orderkey % 5, 1, -2), ','), '') AS gd
      |FROM orders
      |WHERE o_orderkey <= 500
      |ORDER BY o_orderkey""".stripMargin

  val tempTableScript: String =
    s"""DROP TABLE IF EXISTS graft_temp_tbl;
       |CREATE TEMP TABLE graft_temp_tbl AS
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_totalprice > 400000;
       |INSERT INTO graft_temp_tbl
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey <= 50;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM graft_temp_tbl
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  // read_csv(columns={...}) — DuckDB's explicit-schema read (round 18):
  // the struct literal becomes the reader's Spark-DDL schema (inference
  // off, names and types exactly as given). Each engine round-trips its
  // own COPY TO export (the engine writes a part-file directory → glob;
  // DuckDB a single file), and the final typed aggregate is the
  // cross-engine hash surface — names bound by columns=, not the file
  // header, so a rename-on-read is part of what's certified.
  private def csvColsPath(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cols_" +
      s"${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  private def csvColsSqlFor(writePath: String, readPath: String): String =
    s"""COPY (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey % 11 = 0) TO '$writePath' (FORMAT csv, HEADER);
       |SELECT s, COUNT(*) AS n,
       |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
       |FROM read_csv('$readPath', header=true,
       |  columns={'k': 'BIGINT', 's': 'VARCHAR', 'p': 'DOUBLE'})
       |GROUP BY s ORDER BY s;""".stripMargin

  def csvColsScript(dir: String): String = {
    val p = csvColsPath(dir)
    csvColsSqlFor(p, s"$p/*.csv")
  }

  val csvColsOracle: String = {
    val p = s"/tmp/graft_cols_oracle_p${ProcessHandle.current.pid}.csv"
    csvColsSqlFor(p, p)
  }

  // ALTER TABLE column surgery (round 18): ADD COLUMN re-spelled onto
  // Spark's native ADD COLUMNS (null-filled in both engines), DROP and
  // RENAME COLUMN routed through the copy-on-write rewrite (Spark's v1
  // parquet tables reject them outright) with the catalog schema
  // following the files. IDENTICAL script on both engines via the
  // routed CREATE TEMP TABLE; the final aggregate reads the renamed
  // column and counts the null-filled one, so all three surgeries are
  // on the hash surface.
  val alterColScript: String =
    s"""DROP TABLE IF EXISTS graft_alt_t;
       |CREATE TEMP TABLE graft_alt_t AS
       |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS v
       |  FROM orders WHERE o_orderkey <= 500;
       |ALTER TABLE graft_alt_t ADD COLUMN note VARCHAR;
       |ALTER TABLE graft_alt_t DROP COLUMN st;
       |ALTER TABLE graft_alt_t RENAME COLUMN v TO price;
       |SELECT COUNT(*) AS n,
       |  ${msum("price")} AS total,
       |  COUNT(note) AS notes
       |FROM graft_alt_t;""".stripMargin

  // RETURNING (round 18): DuckDB/Postgres's affected-rows clause on
  // plain DML, routed by `Engine.runDml`/`runInsertReturning` — DELETE
  // returns the victims' OLD values, UPDATE the matched rows' NEW values,
  // INSERT the landed rows, each snapshotted before the copy-on-write
  // rewrite replaces the files. All three verbs run in one script; the
  // FINAL statement (a single-row DELETE ... RETURNING) is the hashed
  // comparison surface, so the cross-engine check certifies the routed
  // clause end to end (the mid-script RETURNINGs still execute — a
  // broken route fails the script loudly).
  private def returningTable(dir: String): String =
    s"graft_ret_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  def returningScript(dir: String): String = {
    val t = returningTable(dir)
    s"""DROP TABLE IF EXISTS $t;
       |CREATE TABLE $t AS
       |  SELECT o_orderkey AS k, o_totalprice AS v FROM orders
       |  WHERE o_orderkey <= 100;
       |INSERT INTO $t VALUES (CAST(-1 AS BIGINT), CAST(111.25 AS DOUBLE)),
       |  (CAST(-2 AS BIGINT), CAST(7.5 AS DOUBLE)) RETURNING k;
       |UPDATE $t SET v = v * 2 WHERE k = -2 RETURNING k, v;
       |DELETE FROM $t WHERE k = -1 RETURNING k, v;""".stripMargin
  }

  val returningOracle: String =
    s"""CREATE OR REPLACE TEMP TABLE graft_ret_oracle AS
       |  SELECT o_orderkey AS k, o_totalprice AS v FROM orders
       |  WHERE o_orderkey <= 100;
       |INSERT INTO graft_ret_oracle VALUES
       |  (CAST(-1 AS BIGINT), CAST(111.25 AS DOUBLE)),
       |  (CAST(-2 AS BIGINT), CAST(7.5 AS DOUBLE)) RETURNING k;
       |UPDATE graft_ret_oracle SET v = v * 2 WHERE k = -2 RETURNING k, v;
       |DELETE FROM graft_ret_oracle WHERE k = -1 RETURNING k, v;"""
      .stripMargin

  // Partitioned-export round trip (round 18): COPY TO (PARTITION_BY)
  // writes the hive col=value layout through Spark's partitionBy, and
  // read_parquet('dir/*/*.parquet', hive_partitioning=true) reads it
  // back with the directory keys recovered as a COLUMN (the engine
  // anchors Spark's basePath at the glob's non-glob prefix — without
  // it the keys silently vanish from a glob read). Each engine round-
  // trips its OWN files (pid-scoped paths like c_sql_copy_from); the
  // cross-engine check is the final aggregate hash, which certifies
  // both the partitioned WRITE and the key-recovering READ end to end.
  // OVERWRITE_OR_IGNORE rides along as the DuckDB re-run flag (a no-op
  // here — the engine's writes already overwrite).
  private def hivePartDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_hive_" +
      s"${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"

  private def hivePartSqlFor(p: String): String =
    s"""COPY (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey % 5 = 0)
       |  TO '$p' (FORMAT parquet, PARTITION_BY (o_orderstatus),
       |           OVERWRITE_OR_IGNORE 1);
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${msum("o_totalprice")} AS total
       |FROM read_parquet('$p/*/*.parquet', hive_partitioning=true)
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  def hivePartScript(dir: String): String = hivePartSqlFor(hivePartDir(dir))

  // pid-scoped oracle path, baked in when Verify dumps oracle_sql.json
  val hivePartOracle: String = hivePartSqlFor(
    s"/tmp/graft_hive_oracle_p${ProcessHandle.current.pid}")

  // QUALIFY inside a CREATE VIEW body (round 17): the router applies the
  // full dialect-rewrite pipeline to a DDL statement's AS-body
  // (`Engine.rewriteQueryText`), so a migrating user's SAVED view
  // definitions carrying QUALIFY / FROM-first / DISTINCT ON work — not
  // only top-level statements. IDENTICAL two-statement script on both
  // engines (DuckDB parses QUALIFY in view bodies natively); top-3
  // orders per status through the view, deterministic because
  // o_orderkey is unique.
  val viewQualifyScript: String =
    """CREATE OR REPLACE TEMPORARY VIEW graft_qview AS
      |  SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
      |  QUALIFY row_number() OVER (PARTITION BY o_orderstatus
      |    ORDER BY o_totalprice DESC, o_orderkey) <= 3;
      |SELECT o_orderstatus, o_orderkey, o_totalprice FROM graft_qview
      |ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey;""".stripMargin

  // read_parquet table function routed (round 17): the SQL-text form of
  // the reference's own generated union-view DDL
  // (`/root/reference/src/App.tsx:316-327` emits `… FROM
  // read_parquet(['p1', …])`). The engine rewrites the call in table
  // position to a registered temp view over the named files
  // (`Catalog.rewritePathTables`), so the IDENTICAL text — bracket-list
  // spelling included — runs on both engines; DuckDB executes its
  // native table function. The path is absolute, built from the same
  // sfDir on both sides (Verify pins `graft.sfdir` before dumping the
  // oracle, so the dumped text names the run's own data).
  private def sfDirForOracle: String =
    sys.props.get("graft.sfdir")
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")

  // DuckDB collection literals routed (round 17): `[…]` list and
  // `{'k': v}` struct literal syntax rewrite to Spark's array /
  // named_struct constructors (`Engine.rewriteDuckdbLiterals` — pure
  // text; adjacent brackets are subscripts, `Engine.rewriteSubscripts`),
  // so the IDENTICAL text runs on both engines, including the
  // parenthesized struct field access both grammars share. Scalar
  // outputs only — the hash compare stays type-flat.
  val listStructLits: String =
    """WITH v AS (SELECT unnest([10, 20, 30]) AS n)
      |SELECT n, CAST(list_contains(['A', 'R'], 'R') AS INT) AS has_r,
      |  ({'q': n * 2}).q AS q
      |FROM v ORDER BY n""".stripMargin

  // struct_pack routed (round 17): DuckDB's functional struct
  // constructor with `:=` named arguments rewrites to named_struct
  // (`Engine.rewriteStructPack`) — IDENTICAL text on both engines,
  // fields read back through the dot access both grammars share.
  val structPack: String =
    """SELECT o_orderkey,
      |  (struct_pack(s := o_orderstatus, p := o_totalprice)).s AS st,
      |  (struct_pack(s := o_orderstatus, p := o_totalprice)).p AS pr
      |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin

  // QUALIFY over SELECT DISTINCT (round 17): DuckDB's clause order is
  // window → QUALIFY → DISTINCT, so the routed rewrite filters inside
  // and deduplicates OUTSIDE (`Engine.rewriteQualify`'s DISTINCT
  // branch). IDENTICAL text on both engines; the per-pair top-5 keep
  // makes the filter matter while DISTINCT collapses the survivors.
  val qualifyDistinct: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_orderstatus, o_orderpriority
      |  ORDER BY o_orderkey) <= 5
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // QUALIFY inside a CTE body (round 17): the router now re-enters the
  // dialect pipeline for parenthesized subquery bodies
  // (`Engine.rewriteSubqueryBodies`), so the clause works where a
  // migrating user's saved queries actually carry it — CTE definitions
  // and derived tables — not only at statement level. IDENTICAL text on
  // both engines; o_orderkey unique ⇒ deterministic ranks.
  val cteQualify: String =
    """WITH top AS (
      |  SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
      |  QUALIFY row_number() OVER (PARTITION BY o_orderstatus
      |    ORDER BY o_totalprice DESC, o_orderkey) <= 2)
      |SELECT o_orderstatus, o_orderkey, o_totalprice FROM top
      |ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey""".stripMargin

  // COLUMNS('regex') routed (round 17): DuckDB's regex column selector,
  // desugared by the engine against the FROM relation's analyzed schema
  // (`Engine.rewriteColumnsFn` — unanchored search, declaration order),
  // so the IDENTICAL text runs on both engines. One anchored and one
  // substring pattern; the ORDER BY covers every output column, so the
  // hash is order-deterministic.
  val columnsFn: String =
    """SELECT l_orderkey, l_linenumber, COLUMNS('^l_.*price$'), COLUMNS('tax')
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_tax
      |LIMIT 50""".stripMargin

  def readFnSql(dir: String): String =
    s"""SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
       |FROM read_parquet(['$dir/lineitem.parquet'])
       |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_returnflag
       |LIMIT 20""".stripMargin

  // ORDER BY ALL — the companion dialect convenience to GROUP BY ALL:
  // order by every output column left to right. Verbatim in both engines
  // (Spark 4 and DuckDB both accept it); the translation, were it needed,
  // is just the explicit column list.
  val orderByAll: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin

  // Dollar-quoted strings + trailing comma (round 18): `$$…$$` /
  // `$tag$…$tag$` literals (bodies shield quote characters — the
  // engine converts them FIRST so codeMask-driven routing stays
  // synchronized) and DuckDB's tolerated trailing comma before FROM.
  // IDENTICAL text on both engines.
  val dollarTrailing: String =
    """SELECT l_returnflag, $$don't panic$$ AS tag, $t$x$$y$t$ AS tag2,
      |       count(*) AS n,
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // Inline ORDER BY inside aggregate calls (round 18): DuckDB permits
  // `agg(args ORDER BY keys)` on every aggregate; Spark's grammar has
  // no such clause. The routes per family: string_agg → the standard
  // WITHIN GROUP clause, first/last → min_by/max_by (struct-wrapped
  // multi-key), array_agg → sorted-collect, order-insensitive
  // aggregates (count here) simply drop the clause. Every ORDER BY
  // below carries a tie-breaking second key so both engines' picks are
  // determined (ties in DuckDB resolve by input order, which is not a
  // cross-engine surface — same discipline as every other witness).
  val aggOrder: String =
    """SELECT l_orderkey,
      |  string_agg(l_returnflag, ',' ORDER BY l_linenumber, l_returnflag)
      |    AS flags,
      |  first(l_extendedprice ORDER BY l_linenumber, l_extendedprice)
      |    AS first_price,
      |  last(l_linestatus ORDER BY l_linenumber, l_linestatus)
      |    AS last_status,
      |  array_to_string(
      |    array_agg(l_linenumber ORDER BY l_linenumber DESC), ',')
      |    AS lines_desc,
      |  count(l_returnflag ORDER BY l_linenumber) AS n
      |FROM lineitem
      |WHERE l_orderkey <= 2000
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  // List comprehensions (round 18): `[expr FOR x IN list IF cond]` —
  // DuckDB sugar for list_transform ∘ list_filter, rewritten exactly so
  // by the engine. IDENTICAL text; the outer ORDER BY covers the
  // non-list columns and any remaining tie is a fully identical row, so
  // the LIMIT boundary is order-insensitive.
  val listComp: String =
    """SELECT l_orderkey, l_linenumber,
      |  array_to_string(
      |    [x * 2 FOR x IN [l_linenumber, l_linenumber + 1, l_linenumber + 2]
      |       IF x % 2 = 0], ',') AS evens
      |FROM lineitem
      |WHERE l_orderkey <= 200
      |ORDER BY l_orderkey, l_linenumber
      |LIMIT 50""".stripMargin

  // TRUNCATE without the TABLE keyword (round 18): DuckDB's spelling,
  // routed onto Spark's TRUNCATE TABLE over the routed TEMP TABLE.
  // The INSERT after the truncate proves the table stays writable.
  val truncateScript: String =
    s"""DROP TABLE IF EXISTS graft_trunc_tbl;
       |CREATE TEMP TABLE graft_trunc_tbl AS
       |  SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey <= 100;
       |TRUNCATE graft_trunc_tbl;
       |INSERT INTO graft_trunc_tbl
       |  SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey <= 40;
       |SELECT count(*) AS n, ${msum("l_quantity")} AS qty
       |FROM graft_trunc_tbl;""".stripMargin

  // Operator/field parity pack (round 18): `//` → DIV (same
  // truncate-toward-zero division, measured), DuckDB list SLICING
  // (1-based inclusive, clamped — syntax Spark lacks, so it carries
  // DuckDB's semantics via slice()), and the day-of-week field
  // off-by-one (`dow`: DuckDB Sunday=0 vs Spark Sunday=1; `isodow` →
  // Spark's dayofweek_iso spelling). IDENTICAL text on both engines.
  // (`^` and `**` REFUSE instead: ^ parses on both engines as two
  // DIFFERENT operations — power vs xor — the one case where routing
  // either way silently corrupts someone.)
  val opsParity: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_orderkey // 7 AS bucket,
      |  array_to_string(
      |    [l_linenumber, l_linenumber + 1, l_linenumber + 2][2:3], ',')
      |    AS mid,
      |  EXTRACT(dow FROM l_shipdate) AS dw,
      |  EXTRACT(isodow FROM l_shipdate) AS iso
      |FROM lineitem
      |WHERE l_orderkey <= 300
      |ORDER BY l_orderkey, l_linenumber, dw, iso
      |LIMIT 60""".stripMargin

  // Type-spelling + function-name parity (round 18): DuckDB-only type
  // names at cast sites (::VARCHAR — THE DuckDB to-string idiom —
  // ::HUGEINT mapped to DECIMAL(38,0), cast back for a comparable
  // rendering), MATERIALIZED CTE hints (stripped — a planner hint),
  // ARRAY[…] constructors, and the battery-3 compat functions (week /
  // dayname / monthname full names / epoch / struct_extract).
  // IDENTICAL text on both engines. NOTE double→int casts are AVOIDED
  // by design: DuckDB rounds, Spark truncates (documented divergence —
  // write round() explicitly for portable text).
  val typesParity: String =
    """WITH src AS MATERIALIZED (
      |  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey <= 500
      |)
      |SELECT o_orderkey,
      |  o_orderkey::VARCHAR AS okey_s,
      |  o_orderkey::HUGEINT::BIGINT + 1 AS big,
      |  week(o_orderdate) AS wk,
      |  dayname(o_orderdate) AS dn,
      |  monthname(o_orderdate) AS mn,
      |  epoch(o_orderdate::TIMESTAMP) AS ep,
      |  array_to_string(ARRAY[1, o_orderkey // 3], ',') AS arr,
      |  struct_extract({'k': o_orderkey}, 'k') AS sk,
      |  array_to_string(
      |    list_filter([10, 20, 30], (x, i) -> i % 2 = 1), ',') AS odds,
      |  array_to_string(
      |    list_transform([10, 20, 30], (x, i) -> x + i), ',') AS xi
      |FROM src
      |ORDER BY o_orderkey
      |LIMIT 80""".stripMargin

  // Default null-order parity (round 18): DuckDB sorts NULLS LAST by
  // default in BOTH directions; Spark's ASC default is NULLS FIRST —
  // so a bare `ORDER BY k` over a nullable key silently puts NULLs at
  // OPPOSITE ends. The engine appends NULLS LAST to every non-DESC
  // sort key lacking an explicit NULLS clause, at every depth —
  // statement-level AND window specifications (this witness exercises
  // both; nullif() manufactures the NULL keys the testdata lacks).
  // IDENTICAL text on both engines.
  val nullOrder: String =
    """SELECT l_orderkey, l_linenumber, nullif(l_linenumber, 3) AS k,
      |  rank() OVER (PARTITION BY l_orderkey
      |               ORDER BY nullif(l_linenumber, 3)) AS rk
      |FROM lineitem
      |WHERE l_orderkey <= 120
      |ORDER BY k, l_orderkey, l_linenumber, rk
      |LIMIT 60""".stripMargin

  // Regex-match operators (round 18): `~` is DuckDB's FULL regex match
  // (anchored into the RLIKE it means — the SIMILAR TO discipline),
  // `!~` its negation via NOT RLIKE, `~~` the LIKE operator. IDENTICAL
  // text on both engines.
  val tildeOps: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_returnflag ~ '[AR]' AS is_ar,
      |  l_linestatus !~ 'O' AS not_o,
      |  l_returnflag ~~ 'A%' AS like_a
      |FROM lineitem WHERE l_orderkey <= 100
      |ORDER BY l_orderkey, l_linenumber, is_ar, not_o, like_a
      |LIMIT 40""".stripMargin

  // Compat battery 5 (round 19, `DuckdbCompat` additions): strpos
  // (1-based, 0 when absent), list_zip (pad-to-longest with NULLs;
  // fields accessed POSITIONALLY via struct_extract's numeric 1-based
  // form — the only access the oracle's unnamed structs allow),
  // list_extract (1-based, NULL out of bounds), age() with DuckDB's
  // measured borrow rule (day borrow adds days_in_month of t2's month
  // — differs from Postgres; rendered through date_part since raw
  // INTERVAL values render differently per engine), and the jaccard /
  // hamming string-similarity pair (character-set / positional,
  // case-sensitive — measured). IDENTICAL text on both engines;
  // BIGINT casts align Spark's INT-typed parts with the oracle's.
  val compat5: String =
    """SELECT o_orderkey,
      |  CAST(strpos(o_orderpriority, '-') AS BIGINT) AS sp,
      |  CAST(strpos(o_orderpriority, 'xyzzy') AS BIGINT) AS sp0,
      |  struct_extract(list_extract(
      |    list_zip([o_orderkey, 1], [2, o_orderkey + 1, 5]), 2), 2)
      |    AS z22,
      |  struct_extract(list_extract(
      |    list_zip([o_orderkey, 1], [2, o_orderkey + 1, 5]), 3), 1)
      |    AS z31,
      |  CAST(date_part('year',
      |    age(o_orderdate, DATE '1994-03-15')) AS BIGINT) AS ay,
      |  CAST(date_part('month',
      |    age(o_orderdate, DATE '1994-03-15')) AS BIGINT) AS am,
      |  CAST(date_part('day',
      |    age(o_orderdate, DATE '1994-03-15')) AS BIGINT) AS ad,
      |  jaccard(o_orderpriority, o_orderstatus) AS jac,
      |  CAST(hamming(substr(o_orderpriority, 1, 3),
      |    substr(o_orderstatus || 'xx', 1, 3)) AS BIGINT) AS ham
      |FROM orders
      |WHERE o_orderkey <= 800
      |ORDER BY o_orderkey""".stripMargin

  // Compat battery 6 (round 19, `DuckdbCompat` + `CompatRuntime`):
  // the math/format/metric tail — gcd/lcm (non-negative, zero-safe),
  // even (away-from-zero), signbit (IEEE bit), isinf/isfinite,
  // unicode (-1 on ''), strip_accents, TRUE damerau_levenshtein,
  // editdist3/mismatches aliases, format_bytes (truncated decimal,
  // singular '1 byte'), bar (byte-width padding quirk), to_base
  // (pad-only min_length), to_hex/from_hex, the list metric trio
  // (sequential folds, measured denominator association), and
  // nextafter. IDENTICAL text on both engines; every numeric output
  // is already BIGINT/DOUBLE on both sides.
  val compat6: String =
    """SELECT o_orderkey,
      |  gcd(o_orderkey, 24) AS g,
      |  lcm(o_orderkey % 7 + 1, 6) AS lc6,
      |  even(CAST(o_totalprice AS DOUBLE) / 1000.0) AS ev,
      |  signbit(CAST(o_totalprice AS DOUBLE) - 150000.0) AS sb,
      |  isfinite(CAST(o_totalprice AS DOUBLE)) AS fin,
      |  isinf(CAST('Infinity' AS DOUBLE) * o_totalprice) AS inf,
      |  unicode(o_orderpriority) AS uc,
      |  unicode('') AS uc0,
      |  strip_accents(o_orderpriority || 'é-ü') AS sa,
      |  damerau_levenshtein(o_orderpriority, o_orderstatus || 'CA') AS dl,
      |  editdist3(o_orderpriority, 'URGENT') AS ed,
      |  mismatches(substr(o_orderpriority, 1, 4), 'MEDI') AS mm,
      |  format_bytes(o_orderkey * 100000) AS fb,
      |  bar(o_orderkey % 10, 0, 10, 10) AS br,
      |  to_base(o_orderkey, 16) AS tb,
      |  to_base(o_orderkey, 2, 12) AS tb2,
      |  to_hex(o_orderkey * 7) AS th,
      |  to_hex(from_hex('4a4b')) AS fh,
      |  list_inner_product([CAST(o_totalprice AS DOUBLE), 2.5],
      |    [1.5, CAST(o_totalprice AS DOUBLE)]) AS lip,
      |  list_distance([CAST(o_totalprice AS DOUBLE), 0.0],
      |    [0.0, CAST(o_totalprice AS DOUBLE)]) AS ld,
      |  list_cosine_similarity([CAST(o_totalprice AS DOUBLE), 1.0],
      |    [1.0, CAST(o_totalprice AS DOUBLE)]) AS lcs,
      |  nextafter(CAST(o_totalprice AS DOUBLE), 0.0) AS na
      |FROM orders
      |WHERE o_orderkey <= 800
      |ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "c_sql_compat5" -> q(compat5),
    "c_sql_compat6" -> q(compat6),
    "c_sql_compat7" -> q(compat7),
    "c_sql_ignore_nulls" -> q(ignoreNulls),
    "c_sql_compat8" -> q(compat8),
    "c_sql_series_scalar" -> q(seriesScalar),
    "c_sql_tilde" -> q(tildeOps),
    "c_sql_null_order" -> q(nullOrder),
    "c_sql_types" -> q(typesParity),
    "c_sql_ops" -> q(opsParity),
    "c_sql_dollar_comma" -> q(dollarTrailing),
    "c_sql_agg_order" -> q(aggOrder),
    "c_sql_list_comp" -> q(listComp),
    "c_sql_truncate" -> script(truncateScript),
    "c_sql_qualify" -> q(qualifyOracle), // IDENTICAL text — routed since r16
    "c_sql_from_first" -> q(fromFirst),
    "c_sql_distinct_on" -> q(distinctOnRouted),
    "c_sql_pivot_stmt" -> q(pivotStmt),
    "c_sql_pivot_implicit" -> q(pivotImplicit),
    "c_sql_pivot_subq" -> q(pivotSubq),
    "c_sql_exclude_replace" -> q(excludeReplaceOracle), // IDENTICAL text — routed r16
    "c_sql_exclude_routed" -> q(excludeRouted),
    "c_sql_sample_routed" -> q(sampleRouted),
    "c_sql_asof" -> q(asofRouted),
    "c_sql_duckdb_list_fns" -> q(duckdbListFns),
    "c_sql_duckdb_time_fns" -> q(duckdbTimeFns),
    "c_sql_duckdb_str_fns" -> q(duckdbStrFns),
    "c_sql_duckdb_agg_fns" -> q(duckdbAggFns),
    "c_sql_duckdb_date_fns" -> q(duckdbDateFns),
    "c_sql_duckdb_list_agg" -> q(duckdbListAgg),
    "c_sql_list_aggregate" -> q(listAggregateFns),
    "c_sql_union_by_name" -> q(unionByName),
    "c_sql_series_unnest" -> q(seriesUnnest),
    "c_sql_window_named" -> q(windowNamed),
    "c_sql_window_breadth" -> q(windowBreadth),
    "c_sql_order_by_all" -> q(orderByAll),
    "c_sql_read_fn" -> qAt(readFnSql),
    "c_sql_columns" -> q(columnsFn),
    "c_sql_list_struct" -> q(listStructLits),
    "c_sql_struct_pack" -> q(structPack),
    "c_sql_cte_qualify" -> q(cteQualify),
    "c_sql_qualify_distinct" -> q(qualifyDistinct),
    "c_sql_select" -> q(sqlSelect),
    "c_join_full" -> q(joinFull),
    "c_setop_except_all" -> q(setopExceptAll),
    "c_sql_group_by_all" -> q(groupByAll),
    "c_sql_path" -> pathQ,
    "c_sql_cte" -> q(cteSpark),
    "c_sql_scalar_subq" -> q(scalarSubq),
    "c_sql_in_subq" -> q(inSubq),
    "c_sql_exists_subq" -> q(existsSubq),
    "c_setop_union" -> q(setopUnion),
    "c_setop_intersect" -> q(setopIntersect),
    "c_setop_except" -> q(setopExcept),
    "c_sql_grouping_sets" -> q(groupingSets),
    "c_sql_view_script" -> script(viewScript),
    "c_sql_view_qualify" -> script(viewQualifyScript),
    "c_sql_ctas" -> scriptAt(ctasScript),
    "c_sql_create_replace" -> scriptAt(createReplaceScript),
    "c_sql_dml" -> scriptAt(dmlSqlScript),
    "c_sql_merge" -> scriptAt(mergeSqlScript),
    "c_sql_upsert" -> scriptAt(upsertScript),
    "c_sql_delete_using" -> scriptAt(deleteUsingScript),
    "c_sql_update_from" -> scriptAt(updateFromScript),
    "c_sql_unpivot_stmt" -> q(unpivotStmt),
    "c_sql_copy" -> scriptAt(copySqlScript),
    "c_sql_copy_from" -> scriptAt(copyFromScript),
    "c_sql_hive_part" -> scriptAt(hivePartScript),
    "c_sql_returning" -> scriptAt(returningScript),
    "c_sql_glob" -> q(globPredicate),
    "c_sql_read_csv_cols" -> scriptAt(csvColsScript),
    "c_sql_temp_table" -> script(tempTableScript),
    "c_sql_pk_upsert" -> script(pkUpsertScript),
    "c_sql_alter_col" -> script(alterColScript),
    "c_sql_macro" -> script(macroScript),
    "c_sql_macro_duck" -> script(macroDuckScript),
    "c_sql_prepare" -> script(prepareScript),
    "c_sql_prepare_named" -> script(prepareNamedScript),
    "c_scalar_funcs" -> q(scalarFuncs),
    "c_recursive_cte" -> q(recursiveCte),
    "c_sql_quoting" -> q(quotingSpark),
    "c_grouping_fn" -> q(groupingFn),
    "c_lateral_topn" -> q(lateralTopn))

  val oracle: Map[String, String] = Map(
    "c_sql_tilde" -> tildeOps, // IDENTICAL text — ~ / !~ / ~~ operators
    "c_sql_compat5" -> compat5, // IDENTICAL text — battery-5 compat fns
    "c_sql_compat6" -> compat6, // IDENTICAL text — battery-6 compat fns
    "c_sql_compat7" -> compat7, // IDENTICAL text — jaro pair + AT TIME ZONE
    "c_sql_ignore_nulls" -> ignoreNulls, // IDENTICAL text — window modifiers
    "c_sql_compat8" -> compat8, // IDENTICAL text — quantile_disc + COLUMNS(*)
    "c_sql_series_scalar" -> seriesScalar, // IDENTICAL text — scalar series
    "c_sql_null_order" -> nullOrder, // IDENTICAL text — NULLS LAST default
    "c_sql_types" -> typesParity, // IDENTICAL text — type/function parity
    "c_sql_ops" -> opsParity, // IDENTICAL text — // , slicing, dow/isodow
    "c_sql_dollar_comma" -> dollarTrailing, // IDENTICAL text — dollar quotes
    "c_sql_agg_order" -> aggOrder, // IDENTICAL text — inline agg ORDER BY
    "c_sql_list_comp" -> listComp, // IDENTICAL text — list comprehension
    "c_sql_truncate" -> truncateScript, // IDENTICAL text — routed TRUNCATE
    "c_sql_qualify" -> qualifyOracle,
    "c_sql_from_first" -> fromFirst, // IDENTICAL text — DuckDB parses it natively
    "c_sql_distinct_on" -> distinctOnRouted, // IDENTICAL text — native DISTINCT ON
    "c_sql_pivot_stmt" -> pivotStmt, // IDENTICAL text — native PIVOT statement
    "c_sql_pivot_implicit" -> pivotImplicit, // IDENTICAL text — implicit keys
    "c_sql_pivot_subq" -> pivotSubq, // IDENTICAL text — PIVOT as subquery
    "c_sql_exclude_replace" -> excludeReplaceOracle,
    "c_sql_exclude_routed" -> excludeRouted, // IDENTICAL text — shimmed keyword
    "c_sql_sample_routed" -> sampleRouted, // IDENTICAL text — 100% sample
    "c_sql_asof" -> asofRouted, // IDENTICAL text — native ASOF JOIN
    "c_sql_duckdb_list_fns" -> duckdbListFns, // IDENTICAL text — native fns
    "c_sql_duckdb_time_fns" -> duckdbTimeFns, // IDENTICAL text — native fns
    "c_sql_duckdb_str_fns" -> duckdbStrFns, // IDENTICAL text — native fns
    "c_sql_duckdb_agg_fns" -> duckdbAggFns, // IDENTICAL text — native aggs
    "c_sql_duckdb_date_fns" -> duckdbDateFns, // IDENTICAL text — native fns
    "c_sql_duckdb_list_agg" -> duckdbListAgg, // IDENTICAL text — native aggs
    "c_sql_list_aggregate" -> listAggregateFns, // IDENTICAL text — native fns
    "c_sql_union_by_name" -> unionByName, // IDENTICAL text — routed BY NAME
    "c_sql_series_unnest" -> seriesUnnest, // IDENTICAL text — native fns
    "c_sql_window_named" -> windowNamed,
    "c_sql_window_breadth" -> windowBreadth, // IDENTICAL text — native fns
    "c_sql_order_by_all" -> orderByAll,
    "c_sql_read_fn" -> readFnSql(sfDirForOracle), // IDENTICAL text — native fn
    "c_sql_columns" -> columnsFn, // IDENTICAL text — native COLUMNS
    "c_sql_list_struct" -> listStructLits, // IDENTICAL text — native literals
    "c_sql_struct_pack" -> structPack, // IDENTICAL text — native struct_pack
    "c_sql_cte_qualify" -> cteQualify, // IDENTICAL text — native QUALIFY
    "c_sql_qualify_distinct" -> qualifyDistinct, // IDENTICAL text
    "c_sql_select" -> sqlSelect,
    "c_join_full" -> joinFull,
    "c_setop_except_all" -> setopExceptAll,
    "c_sql_group_by_all" -> groupByAll,
    "c_sql_path" -> sqlSelect, // same rows via the oracle's view
    "c_sql_cte" -> cteOracle,
    "c_sql_scalar_subq" -> scalarSubq,
    "c_sql_in_subq" -> inSubq,
    "c_sql_exists_subq" -> existsSubq,
    "c_setop_union" -> setopUnion,
    "c_setop_intersect" -> setopIntersect,
    "c_setop_except" -> setopExcept,
    "c_sql_grouping_sets" -> groupingSets,
    "c_sql_view_script" -> viewScriptOracle,
    "c_sql_view_qualify" -> viewQualifyScript, // IDENTICAL text — native QUALIFY
    "c_sql_ctas" -> ctasOracle,
    "c_sql_create_replace" -> createReplaceOracle,
    "c_sql_dml" -> dmlSqlOracle,
    "c_sql_merge" -> mergeSqlOracle,
    "c_sql_upsert" -> upsertOracle,
    "c_sql_delete_using" -> deleteUsingOracle,
    "c_sql_update_from" -> updateFromOracle,
    "c_sql_unpivot_stmt" -> unpivotStmt, // IDENTICAL text — native UNPIVOT
    "c_sql_copy" -> copySqlOracle,
    "c_sql_copy_from" -> copyFromOracle,
    "c_sql_hive_part" -> hivePartOracle,
    "c_sql_returning" -> returningOracle,
    "c_sql_glob" -> globPredicate, // IDENTICAL text — native GLOB
    "c_sql_read_csv_cols" -> csvColsOracle,
    "c_sql_temp_table" -> tempTableScript, // IDENTICAL text — routed TEMP TABLE
    "c_sql_pk_upsert" -> pkUpsertScript, // IDENTICAL text — PK + OR REPLACE/IGNORE
    "c_sql_alter_col" -> alterColScript, // IDENTICAL text — routed ALTER COLUMN
    "c_sql_macro" -> macroOracle,
    "c_sql_macro_duck" -> macroDuckScript, // IDENTICAL text — routed CREATE MACRO
    "c_sql_prepare" -> prepareScript, // IDENTICAL text — routed PREPARE/EXECUTE
    "c_sql_prepare_named" -> prepareNamedScript, // IDENTICAL text — named params

    "c_scalar_funcs" -> scalarFuncs,
    "c_recursive_cte" -> recursiveCte,
    "c_sql_quoting" -> quotingOracle,
    "c_grouping_fn" -> groupingFn,
    "c_lateral_topn" -> lateralTopn)
}
