"""DuckDB correctness gate of the workbench benchmark, run after the timed
region. Every executed operation is checked against DuckDB on the same
files:

- statements: each distinct text's first rendered page and total row
  count against DuckDB's result, cell by cell (the workbench renders cells
  as strings, so DuckDB's values are compared in that form: numbers within
  a relative 1e-9, timestamps as ISO-8601 UTC milliseconds);
- export: the CSV's header, row count and key-column sum;
- DML: the statement log replayed in DuckDB, every read compared at its
  point in the log, and the final table compared row by row;
- curation: each pipeline's written output against its DuckDB twin in
  `oracle/`.

Returns the set of failed operation numbers and the affected-row count of
every write (for write amplification)."""
import csv
import datetime
import decimal
import json
import math
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
REL_TOL = 1e-9


def _iso(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%S.") + f"{v.microsecond // 1000:03d}Z"
    return v.strftime("%Y-%m-%dT00:00:00.000Z")


def _num_eq(a, b):
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b or abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def _nested_eq(a, b):
    if isinstance(b, (float, int, decimal.Decimal)) and not isinstance(b, bool) \
            and isinstance(a, (float, int)) and not isinstance(a, bool):
        return _num_eq(float(a), float(b))
    if isinstance(b, (list, tuple)):
        return isinstance(a, list) and len(a) == len(b) and \
            all(_nested_eq(x, y) for x, y in zip(a, b))
    if isinstance(b, dict):
        return isinstance(a, dict) and a.keys() == b.keys() and \
            all(_nested_eq(a[k], b[k]) for k in b)
    if isinstance(b, (datetime.date, datetime.datetime)):
        return a == _iso(b)
    return a == b


def cell_eq(shown, value):
    """Does the workbench's rendered cell show DuckDB's value?"""
    if value is None:
        return shown == ""
    if isinstance(value, bool):
        return shown == str(value).lower()
    if isinstance(value, (int, float, decimal.Decimal)):
        try:
            return _num_eq(float(shown), float(value))
        except ValueError:
            return False
    if isinstance(value, (datetime.datetime, datetime.date)):
        return shown == _iso(value)
    if isinstance(value, (list, tuple, dict)):
        try:
            return _nested_eq(json.loads(shown), value)
        except ValueError:
            return False
    return shown == str(value)


def rows_eq(shown_rows, rows):
    if len(shown_rows) != len(rows):
        return False
    return all(len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b))
               for a, b in zip(shown_rows, rows))


def values_eq(a, b):
    """Two fetched values (parquet read-back vs DuckDB result)."""
    if isinstance(a, datetime.datetime) and isinstance(b, datetime.datetime):
        return _iso(a) == _iso(b)
    if isinstance(a, (int, float, decimal.Decimal)) and not isinstance(a, bool) \
            and isinstance(b, (int, float, decimal.Decimal)) and not isinstance(b, bool):
        return _num_eq(float(a), float(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(values_eq(x, y) for x, y in zip(a, b))
    return a == b


def connect(tables):
    con = duckdb.connect()
    for name, info in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{info['path']}'")
    return con


class Gate:
    def __init__(self, plan, result, tables, log):
        self.plan, self.result, self.log = plan, result, log
        self.con = connect(tables)
        self.failed = set()
        self.affected = {}
        self.work = plan["work"]

    def fail(self, op, why):
        if op["op"] not in self.failed:
            self.log(f"[gate] FAIL {op['phase']}/{op['id']}: {why}")
        self.failed.add(op["op"])

    def run(self):
        ops = [o for o in self.result["ops"] if o["phase"] != "setup"]
        for o in ops:
            if not o["ok"]:
                self.fail(o, f"raised: {o['err']}")
        by_phase = {}
        for o in ops:
            by_phase.setdefault(o["phase"], []).append(o)
        for p in self.plan["phases"]:
            mine = by_phase.get(p["name"], [])
            if p["name"] == "dml":
                self.dml(p, mine)
            else:
                self.independent(p, mine)
        return self.failed, self.affected

    def _query(self, sql):
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def independent(self, phase, ops):
        specs = {o["id"]: o for o in phase["ops"]}
        truth = {}
        for o in ops:
            spec = specs[o["id"]]
            try:
                if o["kind"] == "stmt":
                    self.statement(o, spec, truth)
                elif o["kind"] == "export":
                    self.export(o, spec)
                elif o["kind"] == "pipeline":
                    self.pipeline(o, spec, truth)
            except Exception as e:  # DuckDB refused the twin: a wrong result
                self.fail(o, f"oracle error {e}")

    def statement(self, o, spec, truth):
        if not o["ok"]:
            return
        sql = spec["sql"]
        if sql not in truth:
            truth[sql] = self._query(sql)
        cols, rows = truth[sql]
        if o["total"] != len(rows) or o["shown"] != min(200, len(rows)):
            self.fail(o, f"rows {o['total']}/{o['shown']} vs duckdb {len(rows)}")
        elif o.get("rows") and not rows_eq(o["rows"], rows[:200]):
            self.fail(o, "first page differs from duckdb")
        elif len(o["columns"]) != len(cols):
            self.fail(o, f"columns {o['columns']} vs {cols}")

    def export(self, o, spec):
        if not o["ok"]:
            return
        cols, rows = self._query(
            f"SELECT COUNT(*), SUM(k) FROM (SELECT * , {spec['key']} AS k FROM ({spec['sql']}))")
        want_n, want_sum = rows[0]
        path = os.path.join(self.work, spec["out"])
        with open(path, newline="") as f:
            r = csv.reader(f)
            header = next(r)
            n, total = 0, 0
            ki = header.index(spec["key"])
            for row in r:
                n += 1
                total += int(row[ki])
        names, _ = self._query(f"SELECT * FROM ({spec['sql']}) LIMIT 0")
        if header != names or n != want_n or n != o["rows"] or total != (want_sum or 0):
            self.fail(o, f"csv {n} rows sum {total} vs duckdb {want_n} rows sum {want_sum}")

    def pipeline(self, o, spec, truth):
        name = spec["query"]
        if name not in truth:
            with open(os.path.join(HERE, "oracle", f"{name}.sql")) as f:
                want_cols, want = self._query(f.read())
            got_cur = self.con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(self.work, spec['out'])}/*.parquet')")
            got_cols = [d[0] for d in got_cur.description]
            got = got_cur.fetchall()
            truth[name] = _table_diff(got_cols, got, want_cols, want)
        if truth[name]:
            self.fail(o, truth[name])

    def dml(self, phase, ops):
        """Replay the executed prefix of the DML log in DuckDB."""
        t = phase["table"]
        for s in phase["duckdb_setup"]:
            self.con.execute(s)
        specs = {o["id"]: o for o in phase["ops"]}
        for o in ops:
            spec = specs[o["id"]]
            try:
                if o["kind"] == "write":
                    n = 0
                    for s in spec["duckdb"]:
                        r = self.con.execute(s).fetchall()
                        if r and len(r[0]) == 1 and isinstance(r[0][0], int):
                            n += r[0][0]
                    self.affected[o["op"]] = n
                else:
                    cols, rows = self._query(spec["sql"])
                    if o["ok"] and (o["total"] != len(rows) or
                                    not rows_eq(o["rows"], rows[:200])):
                        self.fail(o, "read differs from the replayed log")
            except Exception as e:
                self.fail(o, f"replay error {e}")
        final = os.path.join(self.work, "gate", "dml")
        if ops and os.path.isdir(final):
            got_cur = self.con.execute(
                f"SELECT * FROM read_parquet('{final}/*.parquet') ORDER BY o_orderkey")
            got = got_cur.fetchall()
            want_cols, want = self._query(f"SELECT * FROM {t} ORDER BY o_orderkey")
            diff = _table_diff([d[0] for d in got_cur.description], got, want_cols, want)
            if diff:
                self.fail(ops[-1], f"final table: {diff}")


def _table_diff(got_cols, got, want_cols, want):
    """Compare two results the way the repository's oracle check does:
    columns by name, row count, then rows in result order."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} vs {sorted(want_cols)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    wi = [want_cols.index(c) for c in sorted(want_cols)]
    for n, (a, b) in enumerate(zip(got, want)):
        if not all(values_eq(a[i], b[j]) for i, j in zip(gi, wi)):
            return f"row {n}: {[a[i] for i in gi]} vs {[b[j] for j in wi]}"
    return None
