-- Scan-heavy statements over the larger folder: filter -> group ->
-- aggregate -> order -> limit, shuffle joins (orders is above the
-- broadcast threshold) and windows. Same block format as interactive.sql.

-- name: scan_agg_supplier
-- params: d=date:1997-01-01:1997-12-31 q=int:20:30
SELECT l_suppkey, COUNT(*) AS n, SUM(l_extendedprice) AS revenue,
  AVG(l_discount) AS avg_disc
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{d}' AND l_quantity > {q}
GROUP BY l_suppkey
ORDER BY revenue DESC, l_suppkey LIMIT 100

-- name: scan_agg_month
-- params: f=choice:A|N|R
SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS mes,
  l_linestatus, COUNT(*) AS n, SUM(l_extendedprice * (1 - l_discount)) AS net
FROM lineitem
WHERE l_returnflag <> '{f}'
GROUP BY ALL ORDER BY mes DESC, l_linestatus LIMIT 200

-- name: scan_join_priority
-- params: d=date:1996-06-01:1997-06-01
SELECT o.o_orderpriority, COUNT(*) AS n_lines,
  SUM(l.l_extendedprice) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '{d}'
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority

-- name: scan_join_customer_top
-- params: s=choice:AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY
SELECT o.o_custkey, COUNT(*) AS n_lines, SUM(l.l_quantity) AS qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{s}'
GROUP BY o.o_custkey ORDER BY qty DESC, o.o_custkey LIMIT 50

-- name: scan_window_rank
-- params: m=int:8:12
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders WHERE o_custkey % {m} = 0)
WHERE rnk <= 2
ORDER BY o_custkey, rnk LIMIT 200

-- name: scan_qualify_lines
-- params: k=int:1:3 d=date:1999-01-01:1999-12-31
SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{d}'
QUALIFY row_number() OVER (PARTITION BY l_suppkey
  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= {k}
ORDER BY l_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 200

-- name: scan_part_brand
-- params: z=int:20:30
SELECT p.p_brand, COUNT(*) AS n, SUM(l.l_extendedprice) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size > {z}
GROUP BY p.p_brand ORDER BY revenue DESC, p.p_brand LIMIT 25

-- name: scan_distinct_orders
-- params: q=int:30:49
SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS orders, COUNT(*) AS n
FROM lineitem WHERE l_quantity > {q}
GROUP BY l_returnflag ORDER BY l_returnflag
