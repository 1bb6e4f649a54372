"""Seeded generator for the workbench benchmark: input data and statement
streams. The same seed gives byte-identical files and the same statement
list (`python3 perfbench/gen.py --self-check` proves it).

Tables follow the repository's synthetic star schema (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
so the declared queries and their DuckDB twins run on them unchanged.
"""
import hashlib
import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TEMPLATES = os.path.join(HERE, "templates")

# Row counts at scale factor 1, matching the repository's test data.
SF1_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
            "orders": 1_500_000, "events": 1_000_000}
EVENTS_MAX = 10_000
LINES_PER_ORDER = 4
EPOCH_1995 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
WORDS = ("a the data spark query table value key part row scan sort join "
         "agg group order batch stream window column merge hash filter "
         "fast slow big small line customer model train index cache page "
         "file block plan cost node task").split()
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
PART_NAMES = ["small ring", "red widget", "blue gear", "steel bolt",
              "brass pin", "green valve", "large plate", "copper wire"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days):
    return pa.array(EPOCH_1995 + days.astype("timedelta64[D]"),
                    pa.timestamp("us"))


def make_tables(seed, sf, n_docs, n_vecs, dup_rate=0.2):
    """All tables as pyarrow Tables, drawn from one seeded generator."""
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * sf)) for k, v in SF1_ROWS.items()}
    # the NDJSON table stays small at every scale: the workbench infers its
    # schema with a full pass on every import
    n["events"] = min(n["events"], EVENTS_MAX)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": [f"REGION_{i}" for i in range(5)]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, -999, 9999, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, -999, 9999, ns)})
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.array(PART_NAMES)[rng.integers(0, len(PART_NAMES), npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[
            rng.integers(0, 4, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": np.round(900 + np.arange(npart) % 1000 * 0.1, 2)})
    no = n["orders"]
    odays = rng.integers(0, ORDER_DAYS, no)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 900, 500_000, no),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, no)]})
    per = rng.integers(1, 2 * LINES_PER_ORDER, no)
    lk = np.repeat(np.arange(no, dtype=np.int64), per)
    nl = len(lk)
    starts = np.cumsum(per) - per
    lnum = (np.arange(nl) - np.repeat(starts, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(np.repeat(odays, per) + rng.integers(1, 121, nl))})
    ne = n["events"]
    secs = np.sort(rng.integers(0, 90 * 86400, ne))
    ts = np.datetime64("2024-01-01T00:00:00", "s") + secs.astype("timedelta64[s]")
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime_as_string(ts, unit="s")).cast(pa.string()),
        "user_id": rng.integers(0, 100, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0, 100, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    t["documents"] = _documents(rng, n_docs, dup_rate)
    dim = 64
    centers = rng.normal(0, 0.15, (5, dim))
    labels = rng.integers(0, 5, n_vecs)
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_vecs, dim))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vecs + 1) * dim, dim, dtype=np.int32)),
            pa.array(vecs.reshape(-1), pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


def _documents(rng, n_docs, dup_rate):
    """Word-salad documents; a `dup_rate` share are near-duplicates (one to
    three words changed) of an earlier document."""
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_rate:
            words = texts[rng.integers(0, i)].split(" ")
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(20, 90))]
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "en", "de", "fr"])[rng.integers(0, 6, n_docs)]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def write_folder(tables, folder, lineitem_parts):
    """The mixed-format folder a user imports: lineitem as parquet parts in
    a `lineitem.parquet/` directory, customer as CSV, events as NDJSON,
    every other table one parquet file (so the declared queries, which read
    `<dir>/<table>.parquet`, run on the same folder). Returns
    {table: {"rows", "bytes", "path"}}; `path` is what a query's FROM names
    (a glob for the parts)."""
    os.makedirs(folder, exist_ok=True)
    sizes = {}
    for name, tab in tables.items():
        if name == "lineitem":
            d = os.path.join(folder, "lineitem.parquet")
            os.makedirs(d, exist_ok=True)
            step = -(-tab.num_rows // lineitem_parts)
            files = []
            for i in range(lineitem_parts):
                f = os.path.join(d, f"part-{i:05d}.parquet")
                pq.write_table(tab.slice(i * step, step), f)
                files.append(f)
            path = os.path.join(d, "*.parquet")
        elif name == "customer":
            f = os.path.join(folder, "customer.csv")
            pacsv.write_csv(tab, f)
            files, path = [f], f
        elif name == "events":
            f = os.path.join(folder, "events.ndjson")
            with open(f, "w") as out:
                for row in tab.to_pylist():
                    out.write(json.dumps(row) + "\n")
            files, path = [f], f
        else:
            f = os.path.join(folder, f"{name}.parquet")
            pq.write_table(tab, f)
            files, path = [f], f
        sizes[name] = {"rows": tab.num_rows, "path": path,
                       "bytes": sum(os.path.getsize(x) for x in files)}
    return sizes


def checksums(folder):
    """sha256 of every file under the folder, by relative path."""
    out = {}
    for root, _, files in os.walk(folder):
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, folder)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


# --- statement templates ----------------------------------------------------

def parse_templates(path):
    """Blocks of `-- name:` / `-- kind:` / `-- params:` headers and a body;
    DML blocks split the body into `-- engine:` and `-- duckdb:` sections."""
    blocks, cur, section = [], None, "body"
    for line in open(path):
        m = re.match(r"--\s*(name|kind|params):\s*(.*)$", line.strip())
        if m and m.group(1) == "name":
            cur = {"name": m.group(2).strip(), "kind": "read", "params": {},
                   "body": "", "engine": "", "duckdb": ""}
            blocks.append(cur)
            section = "body"
        elif cur is None:
            continue
        elif m and m.group(1) == "kind":
            cur["kind"] = m.group(2).strip()
        elif m:
            for spec in m.group(2).split():
                k, v = spec.split("=", 1)
                cur["params"][k] = v
        elif line.strip() in ("-- engine:", "-- duckdb:"):
            section = line.strip()[3:-1]
        elif not line.startswith("--"):
            cur[section] += line
    for b in blocks:
        for k in ("body", "engine", "duckdb"):
            b[k] = b[k].strip()
    return blocks


def draw(params, rng, n_keys):
    """One value per declared literal."""
    out = {}
    for k, spec in params.items():
        kind, _, rest = spec.partition(":")
        if kind == "int":
            lo, hi = map(int, rest.split(":"))
            out[k] = str(int(rng.integers(lo, hi + 1)))
        elif kind == "key":
            lo, hi = map(float, rest.split(":"))
            out[k] = str(int(rng.integers(int(lo * n_keys), max(1, int(hi * n_keys)))))
        elif kind == "dec":
            lo, hi = map(float, rest.split(":"))
            out[k] = f"{rng.uniform(lo, hi):.2f}"
        elif kind == "choice":
            opts = rest.split("|")
            out[k] = opts[int(rng.integers(0, len(opts)))]
        elif kind == "date":
            lo, hi = (np.datetime64(x, "D") for x in rest.split(":"))
            out[k] = str(lo + int(rng.integers(0, (hi - lo).astype(int) + 1)))
        else:
            raise ValueError(f"unknown parameter kind {spec!r}")
    return out


def fill(text, values):
    return re.sub(r"\{(\w+)\}", lambda m: values.get(m.group(1), m.group(0)), text)


SEARCH_TERMS = ["1", "2", "a", "e", "o", "19", "20", "-", "R", "N"]


def statement_stream(templates, rng, rounds, rerun_share, ctx):
    """Rounds over every template in file order; literals are drawn from the
    seed per statement, and `rerun_share` of the round's templates come back
    as verbatim re-runs of an earlier text of the round, at fixed places.
    Every seed thus has the same mix, in the same order, with the same
    statements opening each slot of a run."""
    out = []
    reruns = round(rerun_share * len(templates))
    for r in range(rounds):
        mine = []
        for t in templates:
            vals = dict(ctx, **draw(t["params"], rng, ctx["n_keys"]))
            mine.append({"template": t["name"], "sql": fill(t["body"], vals),
                         "sort_col": int(rng.integers(0, 4)),
                         "search": SEARCH_TERMS[int(rng.integers(0, len(SEARCH_TERMS)))],
                         "rerun": False, "round": r})
        n = len(mine)
        for k in reversed(range(reruns)):
            at = n * (k + 1) // (reruns + 1)
            mine.insert(at + 1, dict(mine[at // 2], rerun=True))
        out.extend(mine)
    return out


def dml_stream(templates, rng, rounds, ctx, reads_per_write=1):
    """Rounds of every write template once, in file order, each followed by
    `reads_per_write` reads cycling through the read templates in file
    order. A write carries its engine text, its DuckDB twin and a fresh key
    base of its own; literals are drawn from the seed."""
    writes = [t for t in templates if t["kind"] == "write"]
    reads = [t for t in templates if t["kind"] == "read"]
    out, fresh, n_read = [], 10_000_000, 0
    for r in range(rounds):
        for w in writes:
            mine = [reads[(n_read + j) % len(reads)] for j in range(reads_per_write)]
            n_read += reads_per_write
            for t in [w] + mine:
                vals = dict(ctx, **draw(t["params"], rng, ctx["n_keys"]))
                if t["kind"] == "write":
                    fresh += 1_000_000
                    vals["fresh"] = str(fresh)
                    out.append({"template": t["name"], "kind": "write", "round": r,
                                "engine": [x.strip() for x in fill(t["engine"], vals).split(";")],
                                "duckdb": [x.strip() for x in fill(t["duckdb"], vals).split(";")]})
                else:
                    out.append({"template": t["name"], "kind": "read", "round": r,
                                "sql": fill(t["body"], vals),
                                "sort_col": int(rng.integers(0, 4)),
                                "search": SEARCH_TERMS[int(rng.integers(0, len(SEARCH_TERMS)))]})
    return out


def self_check(seed=7):
    """Same seed twice: identical statement lists and data checksums."""
    import tempfile
    digests = []
    for _ in range(2):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            tabs = make_tables(seed, 0.001, 200, 100)
            write_folder(tabs, d, 3)
            ctx = {"folder": d, "n_keys": tabs["orders"].num_rows, "t": "t"}
            rng = np.random.default_rng(seed)
            stmts = statement_stream(
                parse_templates(os.path.join(TEMPLATES, "interactive.sql")),
                rng, 3, 0.25, ctx)
            dml = dml_stream(parse_templates(os.path.join(TEMPLATES, "dml.sql")),
                             rng, 3, ctx)
            digests.append((json.dumps([stmts, dml]).replace(d, "<folder>"),
                            checksums(d)))
    assert digests[0] == digests[1], "same seed gave different inputs"
    print(f"self-check ok: {len(digests[0][1])} files, "
          f"statement digest {hashlib.sha256(digests[0][0].encode()).hexdigest()[:16]}")


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-check"]:
        self_check()
    else:
        sys.exit("usage: gen.py --self-check")
