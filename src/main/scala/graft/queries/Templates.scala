package graft.queries

import Tables._

/** The six CUR template queries (`/root/reference/src/App.tsx:153-227`,
  * SURVEY.md §2 Tier B table + A20) re-targeted at the testdata star schema
  * per the column mapping in FIXTURES.md §3.
  *
  * Each template IS its DuckDB text: the reference's templates are SQL
  * strings handed verbatim to DuckDB, and here the same string runs
  * through the engine's SQL path (`Tables.q`) and is the oracle.
  *
  * Determinism rules (SURVEY §5, §7.4): wall-clock `CURRENT_DATE - INTERVAL`
  * predicates become fixed timestamp literals inside the data's date range;
  * every ORDER BY ends in a unique key; money sums go through DECIMAL(18,2)
  * so they are exact and order-insensitive (double sums are order-sensitive
  * and Spark/DuckDB aggregate in different orders); temporal outputs are
  * rendered to ISO strings on both sides (Tables canonicalization policy —
  * round-1 hash-gate lesson, VERDICT.md #1).
  *
  * Scale notes: each query is scan → filter → partial agg → shuffle on the
  * group keys → final agg → (small) sort. Filters and column pruning push
  * into the parquet scan (`NULLIF(x, 'F') IS NOT NULL` through the
  * `NullifPushdown` rule; PlanSpec pins t1/t3/t5/t6); the shuffled key
  * cardinality (supplier, month) is tiny relative to input, so the
  * pattern holds at 100 TB.
  */
object Templates {

  // -- Template 1: "CUR - Resumo por Conta" (src/App.tsx:154-164) ----------
  // scan -> filter(date >= fixed) -> groupBy(1 key) -> {count, sum, min, max}
  // -> orderBy sum desc. Exercises B5/B7/B11/B12/B13/B16/B19.
  val t1AccountSummarySql: String =
    s"""SELECT l_suppkey AS account_id, COUNT(*) AS n_items,
       |  ${oDsum("l_extendedprice")} AS total_cost,
       |  ${oDay("MIN(l_shipdate)")} AS first_ship,
       |  ${oDay("MAX(l_shipdate)")} AS last_ship
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1998-06-01'
       |GROUP BY l_suppkey
       |ORDER BY total_cost DESC NULLS LAST, account_id""".stripMargin

  // -- Template 2: "CUR - Resumo por Serviço" (src/App.tsx:166-176) --------
  // 3-arm COALESCE projection (B22), <> filter (B6), GROUP BY select-list
  // alias (B18), ORDER BY agg alias DESC (B19), LIMIT 50 (B21).
  val t2ServiceSummarySql: String =
    s"""SELECT COALESCE(NULLIF(l_linestatus, 'F'), NULLIF(l_returnflag, 'R'),
       |                'Unknown') AS service_name,
       |  COUNT(*) AS n_items, ${oDsum("l_extendedprice")} AS total_cost
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_returnflag <> 'A'
       |GROUP BY service_name
       |ORDER BY total_cost DESC NULLS LAST, service_name
       |LIMIT 50""".stripMargin

  // -- Template 3: "CUR - Resumo por Mês" (src/App.tsx:178-187) ------------
  // date_trunc('month') group key (B23) — rendered 'yyyy-MM-dd' both sides.
  val t3MonthlySummarySql: String =
    s"""SELECT ${oMonth("l_shipdate")} AS mes,
       |  COUNT(*) AS n_items, ${oDsum("l_extendedprice")} AS total_cost
       |FROM lineitem
       |WHERE l_returnflag <> 'R'
       |GROUP BY mes
       |ORDER BY mes DESC""".stripMargin

  // -- Template 4: "CUR - Detalhes por Conta" (src/App.tsx:189-200) --------
  // = (B5) AND BETWEEN (B8) AND <> (B6/B10), 3 group keys incl. 2 aliases of
  // expressions (B17/B18), multi-key mixed ORDER BY (B20).
  val t4AccountDetailsSql: String =
    s"""SELECT l_suppkey AS account_id,
       |  COALESCE(NULLIF(l_linestatus, 'F'), l_returnflag) AS service_name,
       |  ${oMonth("l_shipdate")} AS mes,
       |  ${oDsum("l_extendedprice")} AS cost
       |FROM lineitem
       |WHERE l_linestatus = 'O'
       |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31'
       |  AND l_returnflag <> 'R'
       |GROUP BY account_id, service_name, mes
       |ORDER BY mes DESC, cost DESC NULLS LAST, account_id, service_name""".stripMargin

  // -- Template 5: "CUR - Savings Plans" (src/App.tsx:202-213) -------------
  // IS NOT NULL-style filter (B9), conditional aggregate SUM(CASE WHEN)
  // (B14), 2 group keys, ORDER BY mes DESC, account ASC (B20).
  val t5SavingsPlansSql: String =
    s"""SELECT ${oMonth("l_shipdate")} AS mes,
       |  l_suppkey AS account_id,
       |  ${oDsum("l_discount")} AS total_commitment,
       |  ${oDsum("l_tax")} AS effective_cost,
       |  ${oDsum("CASE WHEN l_returnflag = 'N' THEN l_extendedprice ELSE 0 END")}
       |    AS covered_cost
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1999-01-01'
       |  AND NULLIF(l_linestatus, 'F') IS NOT NULL
       |GROUP BY mes, account_id
       |ORDER BY mes DESC, account_id""".stripMargin

  // -- Template 6: "CUR - Reserved Instances" (src/App.tsx:215-226) --------
  val t6ReservedInstancesSql: String =
    s"""SELECT ${oMonth("l_shipdate")} AS mes,
       |  l_suppkey AS account_id,
       |  ${oDsum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END")} AS ri_fee,
       |  ${oDsum("CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0 END")}
       |    AS discounted_usage,
       |  ${oDsum("l_quantity")} AS unused_fee
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '2000-01-01'
       |  AND NULLIF(l_returnflag, 'N') IS NOT NULL
       |GROUP BY mes, account_id
       |ORDER BY mes DESC, account_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "t1_account_summary" -> t1AccountSummarySql,
    "t2_service_summary" -> t2ServiceSummarySql,
    "t3_monthly_summary" -> t3MonthlySummarySql,
    "t4_account_details" -> t4AccountDetailsSql,
    "t5_savings_plans" -> t5SavingsPlansSql,
    "t6_reserved_instances" -> t6ReservedInstancesSql)

  val queries: Map[String, Q] = oracle.map { case (n, text) => n -> q(text) }
}
