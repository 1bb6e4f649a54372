-- Writes and reads on one table made by CREATE TABLE AS from `orders`.
-- Key windows have fixed widths, so every seed changes about as many rows.
-- Same block format as interactive.sql, plus `-- kind:` (write | read).
-- A write has an `-- engine:` text (what the user types into the
-- workbench) and a `-- duckdb:` twin replayed by the correctness gate;
-- statements within a section are separated by `;`. `{t}` is the table,
-- `{fresh}` a key base no earlier statement used (fresh keys never collide).

-- name: insert_values
-- kind: write
-- params: c=int:0:1400 p=dec:900:500000 s=choice:F|O|P
-- engine:
INSERT INTO {t} VALUES
  ({fresh}, {c}, '{s}', {p}, '1-URGENT'),
  ({fresh} + 1, {c} + 1, 'N', {p} + 1, '5-LOW')
-- duckdb:
INSERT INTO {t} VALUES
  ({fresh}, {c}, '{s}', {p}, '1-URGENT'),
  ({fresh} + 1, {c} + 1, 'N', {p} + 1, '5-LOW')

-- name: insert_select
-- kind: write
-- params: a=key:0:0.95
-- engine:
INSERT INTO {t}
  SELECT o_orderkey + {fresh}, o_custkey, 'I', o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey BETWEEN {a} AND {a} + 99
-- duckdb:
INSERT INTO {t}
  SELECT o_orderkey + {fresh}, o_custkey, 'I', o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey BETWEEN {a} AND {a} + 99

-- name: upsert_on_conflict
-- kind: write
-- params: a=key:0:0.95
-- engine:
INSERT INTO {t}
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
    o_totalprice + 7 AS o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey BETWEEN {a} AND {a} + 99
  UNION ALL
  SELECT o_orderkey + {fresh}, o_custkey, 'V', CAST(55.25 AS DOUBLE), o_orderpriority
  FROM orders WHERE o_orderkey BETWEEN {a} AND {a} + 99 AND o_orderkey % 3 = 0
  ON CONFLICT (o_orderkey) DO UPDATE SET
    o_orderstatus = EXCLUDED.o_orderstatus,
    o_totalprice = EXCLUDED.o_totalprice
-- duckdb:
INSERT INTO {t}
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
    o_totalprice + 7 AS o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey BETWEEN {a} AND {a} + 99
  UNION ALL
  SELECT o_orderkey + {fresh}, o_custkey, 'V', CAST(55.25 AS DOUBLE), o_orderpriority
  FROM orders WHERE o_orderkey BETWEEN {a} AND {a} + 99 AND o_orderkey % 3 = 0
  ON CONFLICT (o_orderkey) DO UPDATE SET
    o_orderstatus = EXCLUDED.o_orderstatus,
    o_totalprice = EXCLUDED.o_totalprice

-- name: update_where
-- kind: write
-- params: a=key:0:0.95 d=int:1:99
-- engine:
UPDATE {t} SET o_totalprice = o_totalprice + {d}, o_orderstatus = 'X'
  WHERE o_orderkey BETWEEN {a} AND {a} + 99
-- duckdb:
UPDATE {t} SET o_totalprice = o_totalprice + {d}, o_orderstatus = 'X'
  WHERE o_orderkey BETWEEN {a} AND {a} + 99

-- name: delete_where
-- kind: write
-- params: a=key:0:0.95 s=choice:F|O|P
-- engine:
DELETE FROM {t} WHERE o_orderkey BETWEEN {a} AND {a} + 99
  AND o_orderstatus = '{s}'
-- duckdb:
DELETE FROM {t} WHERE o_orderkey BETWEEN {a} AND {a} + 99
  AND o_orderstatus = '{s}'

-- name: merge_into
-- kind: write
-- params: a=key:0:0.95
-- engine:
CREATE OR REPLACE TEMP VIEW merge_src AS
  SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
    o_totalprice + 1 AS o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey BETWEEN {a} AND {a} + 99
  UNION ALL
  SELECT o_orderkey + {fresh}, o_custkey, 'N', CAST(100.25 AS DOUBLE), o_orderpriority
  FROM orders WHERE o_orderkey BETWEEN {a} AND {a} + 99 AND o_orderkey % 4 = 0;
MERGE INTO {t} USING merge_src
  ON {t}.o_orderkey = merge_src.o_orderkey
  WHEN MATCHED THEN UPDATE SET
    o_orderstatus = merge_src.o_orderstatus,
    o_totalprice = merge_src.o_totalprice
  WHEN NOT MATCHED THEN INSERT *
-- duckdb:
CREATE OR REPLACE TEMP VIEW merge_src AS
  SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
    o_totalprice + 1 AS o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey BETWEEN {a} AND {a} + 99
  UNION ALL
  SELECT o_orderkey + {fresh}, o_custkey, 'N', CAST(100.25 AS DOUBLE), o_orderpriority
  FROM orders WHERE o_orderkey BETWEEN {a} AND {a} + 99 AND o_orderkey % 4 = 0;
UPDATE {t} SET o_orderstatus = merge_src.o_orderstatus,
    o_totalprice = merge_src.o_totalprice
  FROM merge_src WHERE {t}.o_orderkey = merge_src.o_orderkey;
INSERT INTO {t} SELECT * FROM merge_src
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {t})

-- name: read_point
-- kind: read
-- params: k=key:0:1
SELECT * FROM {t} WHERE o_orderkey = {k}

-- name: read_status
-- kind: read
SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total,
  MIN(o_orderkey) AS k_min, MAX(o_orderkey) AS k_max
FROM {t} GROUP BY o_orderstatus ORDER BY o_orderstatus

-- name: read_priority_range
-- kind: read
-- params: a=key:0:0.95
SELECT o_orderpriority, COUNT(*) AS n, AVG(o_totalprice) AS avg_price
FROM {t} WHERE o_orderkey BETWEEN {a} AND {a} + 1000
GROUP BY o_orderpriority ORDER BY o_orderpriority
