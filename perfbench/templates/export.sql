-- The result a user exports as CSV: a projection of lineitem without an
-- ORDER BY, streamed to the driver in partition order. `{m}` (set by the
-- workload) picks the share of rows, `{r}` which residue class.

-- name: export_lines
-- params: r=int:0:99
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
  l_returnflag, l_shipdate
FROM lineitem WHERE l_orderkey % {m} = {r}
