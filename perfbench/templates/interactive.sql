-- Analyst-session statements in the DuckDB dialect the workbench accepts.
-- Each block starts with `-- name:`; `-- params:` declares the literals
-- redrawn per statement (int:lo:hi, dec:lo:hi, choice:a|b|c,
-- date:YYYY-MM-DD:YYYY-MM-DD, key:lo:hi as a share of the order keys).
-- `{folder}` is the imported folder.
-- Every statement orders its result completely, so the first page is
-- deterministic and comparable with DuckDB.

-- name: t1_account_summary
-- params: d=date:1996-01-01:2000-12-31
SELECT l_suppkey AS account_id, COUNT(*) AS n_items,
  SUM(l_extendedprice) AS total_cost,
  strftime(MIN(l_shipdate), '%Y-%m-%d') AS first_ship,
  strftime(MAX(l_shipdate), '%Y-%m-%d') AS last_ship
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{d}'
GROUP BY l_suppkey
ORDER BY total_cost DESC NULLS LAST, account_id

-- name: t2_service_summary
-- params: d=date:1995-06-01:2000-06-01 f=choice:A|N|R
SELECT COALESCE(NULLIF(l_linestatus, 'F'), NULLIF(l_returnflag, 'R'),
                'Unknown') AS service_name,
  COUNT(*) AS n_items, SUM(l_extendedprice) AS total_cost
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{d}' AND l_returnflag <> '{f}'
GROUP BY service_name
ORDER BY total_cost DESC NULLS LAST, service_name
LIMIT 50

-- name: t3_monthly_summary
-- params: f=choice:A|N|R
SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS mes,
  COUNT(*) AS n_items, SUM(l_extendedprice) AS total_cost
FROM lineitem
WHERE l_returnflag <> '{f}'
GROUP BY mes
ORDER BY mes DESC

-- name: t4_account_details
-- params: d0=date:1995-01-01:1997-12-31 d1=date:1998-01-01:2001-06-30 s=choice:O|F
SELECT l_suppkey AS account_id,
  COALESCE(NULLIF(l_linestatus, 'F'), l_returnflag) AS service_name,
  strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS mes,
  SUM(l_extendedprice) AS cost
FROM lineitem
WHERE l_linestatus = '{s}'
  AND l_shipdate BETWEEN TIMESTAMP '{d0}' AND TIMESTAMP '{d1}'
  AND l_returnflag <> 'R'
GROUP BY account_id, service_name, mes
ORDER BY mes DESC, cost DESC NULLS LAST, account_id, service_name

-- name: t5_savings_plans
-- params: d=date:1998-01-01:2000-12-31
SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS mes,
  l_suppkey AS account_id,
  SUM(l_discount) AS total_commitment,
  SUM(l_tax) AS effective_cost,
  SUM(CASE WHEN l_returnflag = 'N' THEN l_extendedprice ELSE 0 END)
    AS covered_cost
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{d}'
  AND NULLIF(l_linestatus, 'F') IS NOT NULL
GROUP BY mes, account_id
ORDER BY mes DESC, account_id

-- name: from_first
-- params: q=int:5:45
FROM lineitem
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  SUM(l_extendedprice) AS total
WHERE l_quantity > {q}
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus

-- name: qualify_top
-- params: k=int:1:4 p=int:1000:400000
SELECT o_orderstatus, o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > {p}
QUALIFY row_number() OVER (PARTITION BY o_orderstatus
  ORDER BY o_totalprice DESC, o_orderkey) <= {k}
ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey

-- name: exclude_replace
-- params: r=int:0:4
SELECT * EXCLUDE (n_regionkey) REPLACE (upper(n_name) AS n_name)
FROM nation WHERE n_regionkey <> {r} ORDER BY n_nationkey

-- name: group_by_all
-- params: q=int:1:40
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  SUM(l_quantity) AS qty
FROM lineitem WHERE l_quantity >= {q} GROUP BY ALL
ORDER BY l_returnflag, l_linestatus

-- name: order_by_all
-- params: d=date:1995-01-01:2001-01-01
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem WHERE l_shipdate < TIMESTAMP '{d}' GROUP BY ALL ORDER BY ALL

-- name: pivot
-- params: agg=choice:SUM|MAX|MIN
PIVOT lineitem ON l_returnflag USING {agg}(l_quantity)
GROUP BY l_linestatus ORDER BY l_linestatus

-- name: path_table
-- params: p=int:100:1900
SELECT p_brand, COUNT(*) AS n, MAX(p_retailprice) AS top_price
FROM '{folder}/part.parquet'
WHERE p_partkey < {p}
GROUP BY p_brand ORDER BY n DESC, p_brand LIMIT 20

-- name: list_fns
-- params: d=int:0:400 w=choice:data|spark|query|table|value
SELECT doc_id,
  NULLIF(array_to_string(list_transform(
    list_filter(string_split(text, ' '),
      w -> list_contains(string_split('{w} model train', ' '), w)),
    w -> upper(w)), ','), '') AS hits,
  CAST(list_contains(string_split(text, ' '), '{w}') AS INT) AS has_word
FROM documents WHERE doc_id >= {d} ORDER BY doc_id LIMIT 50

-- name: struct_pack
-- params: k=int:0:14000
SELECT o_orderkey,
  (struct_pack(s := o_orderstatus, p := o_totalprice)).s AS st,
  (struct_pack(s := o_orderstatus, p := o_totalprice)).p AS pr
FROM orders WHERE o_orderkey >= {k} ORDER BY o_orderkey LIMIT 100

-- name: date_fns
-- params: k=int:0:14000 d=date:1995-01-01:1999-12-31
SELECT o_orderkey,
  date_diff('day', DATE '{d}', o_orderdate) AS dd,
  date_diff('month', DATE '{d}', o_orderdate) AS dm,
  strftime(date_add(o_orderdate, INTERVAL 35 DAY), '%Y-%m-%d') AS da_d
FROM orders WHERE o_orderkey >= {k} ORDER BY o_orderkey LIMIT 100

-- name: window_named
-- params: m=int:20:80
SELECT o_orderstatus, o_orderkey, o_totalprice,
  rank() OVER w AS rnk,
  lag(o_orderkey) OVER w AS prev_key
FROM orders
WHERE o_orderkey % {m} = 0
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_orderstatus, rnk

-- name: join_orders
-- params: d=date:1995-01-01:2000-01-01 p=choice:1-URGENT|2-HIGH|3-MEDIUM|5-LOW
SELECT o.o_orderpriority, l.l_returnflag, COUNT(*) AS n,
  SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '{d}' AND o.o_orderpriority <> '{p}'
GROUP BY o.o_orderpriority, l.l_returnflag
ORDER BY o.o_orderpriority, l.l_returnflag

-- name: csv_customers
-- params: b=dec:-500:5000 s=choice:AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY
SELECT c_mktsegment, c_nationkey, COUNT(*) AS n, MAX(c_acctbal) AS top_bal
FROM customer
WHERE c_acctbal > {b} AND c_mktsegment <> '{s}'
GROUP BY c_mktsegment, c_nationkey
ORDER BY c_mktsegment, c_nationkey

-- name: ndjson_events
-- params: v=dec:0:60 e=choice:click|signup|error|view|purchase
SELECT event_type, strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
  COUNT(*) AS n, SUM(value) AS total
FROM events
WHERE value > {v} AND event_type <> '{e}'
GROUP BY event_type, day
ORDER BY day DESC, event_type LIMIT 100
