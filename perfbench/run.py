#!/usr/bin/env python3
"""Workbench benchmark: one command, one seeded workload, one closed-loop
single-threaded client on `local[N]` (N = the machine's processor count).

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program
(`src/main/scala`) together with the benchmark's JVM program (`scala/`) into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed (`gen.py`), runs
them through the workbench on the JVM (`scala/Workbench.scala`), checks
every output against DuckDB (`gate.py`), and prints one JSON line last:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
End-to-end timings are scaled to a reference host speed (CALIB_REF_MS);
the raw values are printed beside them.

    python3 perfbench/run.py --watchlist --seed 1    # layer split of the
                                                     # three watchlist queries
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gate as G  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
JVM_TIMEOUT_S = 140
DRIVER_HEAP = "3g"
# The parallel collector with two threads: its heap sizing gives a steadier
# peak RSS than G1's, and fewer GC threads compete with the task threads.
GC = ["-XX:+UseParallelGC", "-XX:ParallelGCThreads=2"]

# JDK 17 module opens Spark needs outside spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# Every workload runs every phase, so every end-to-end metric exists on
# each; the two differ in data size and in which layers dominate. Counts
# are for --seconds 20 and scale with it. A phase runs its untimed warm-up
# first (one statement, one small export, with `dml_warmup` the writes of
# one DML round on a small table of its own, one round of the pipelines),
# then a fixed number of whole rounds of its stream in a fixed order, so a
# run's samples have the same size and mix whatever the seed and the
# program's speed. The timed operations are dealt out over
# `slots`; each slot starts with a set-up (Workbench.scala runs them in
# slot order).
WORKLOADS = {
    "interactive": {
        "sf": 0.01, "parts": 4, "docs": 300, "vecs": 300,
        "statements": "interactive.sql", "rerun": 0.15,
        "export_mod": 8, "dml_writes": ["insert_values", "update_where", "delete_where"],
        "dml_warmup": True, "reads_per_write": 1,
        "pipelines": ["p_dedup_minhash", "p_sim_lsh"],
        "rounds": {"stmt": 1, "export": 8, "dml": 3, "curation": 3, "slots": 3},
    },
    "bulk": {
        "sf": 0.1, "parts": 12, "docs": 1500, "vecs": 2000,
        "statements": "scan.sql", "rerun": 0.0,
        "export_mod": 24, "dml_writes": None, "dml_warmup": False, "reads_per_write": 2,
        "pipelines": ["p_dedup_ngram"],
        "rounds": {"stmt": 1, "export": 3, "dml": 1, "curation": 3, "slots": 3},
    },
}
WATCHLIST = ["c_stats_moments", "c_sort_skip", "p_dedup_clusters"]
DML_TABLE = "dml_orders"
WARM_TABLE = "dml_warm"  # a small table the untimed DML round writes to
WARM_KEYS = 2000
DML_COLUMNS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# --- build --------------------------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def build():
    """Compile the program and the benchmark's JVM program with the Scala
    compiler shipped in Spark's jars; skipped when the sources are
    unchanged."""
    if not os.path.isdir(SOURCES[0]):
        sys.exit("perfbench: program sources (src/main/scala) not found; "
                 "run from the repository root")
    files = sorted(os.path.join(r, f) for d in SOURCES for r, _, fs in os.walk(d)
                   for f in fs if f.endswith(".scala"))
    digest = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            digest.update(f.encode() + b"\0" + fh.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    log(f"perfbench: compiling {len(files)} sources")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(BUILD, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(files))
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-usejavacp", "-d", classes, "-cp", cp, "@" + args],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        sys.exit("perfbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


# --- plan -------------------------------------------------------------------------

def input_rows(sql, tables):
    """Generated rows of every table a statement reads."""
    return sum(info["rows"] for name, info in tables.items()
               if re.search(rf"\b{name}\b", sql))


def source(path):
    """A path table as a user types it; a glob needs read_parquet (the
    workbench resolves bare quoted paths, not bare quoted globs)."""
    return f"read_parquet('{path}')" if "*" in path else f"'{path}'"


def deal(ops, warmup, slots):
    """Give each timed operation (those after the warm-up) its slot:
    contiguous runs, so a phase keeps its order."""
    n = len(ops) - warmup
    for i, o in enumerate(ops[warmup:]):
        o["slot"] = i * slots // n
    return ops


def make_plan(workload, seed, seconds, trace, work):
    w = WORKLOADS[workload]
    t0 = time.time()
    tabs = gen.make_tables(seed, w["sf"], w["docs"], w["vecs"])
    folder = os.path.join(work, "data", "folder")
    tables = gen.write_folder(tabs, folder, w["parts"])
    gen_s = time.time() - t0
    rng = gen.np.random.default_rng(seed + 1)
    ctx = {"folder": folder, "n_keys": tables["orders"]["rows"], "t": DML_TABLE}
    rounds = {k: max(1, round(v * seconds / 20)) for k, v in w["rounds"].items()}
    slots = rounds["slots"]
    phases = []

    templates = gen.parse_templates(os.path.join(gen.TEMPLATES, w["statements"]))
    warm = gen.statement_stream(templates, rng, 1, 0.0, ctx)[:1]
    stmts = gen.statement_stream(templates, rng, rounds["stmt"], w["rerun"], ctx)
    seen = set()
    ops = []
    for i, s in enumerate([dict(x, round=-1) for x in warm] + stmts):
        ops.append({"kind": "stmt", "id": f"s{i}", "sql": s["sql"],
                    "sort_col": s["sort_col"], "search": s["search"],
                    "keep_rows": s["sql"] not in seen, "template": s["template"],
                    "round": s["round"], "input_rows": input_rows(s["sql"], tables)})
        seen.add(s["sql"])
    phases.append(dict(name="stmt", ops=deal(ops, len(warm), slots), warmup=len(warm)))

    # the untimed first export returns an eighth of the rows of a timed one
    export_t = gen.parse_templates(os.path.join(gen.TEMPLATES, "export.sql"))[0]
    ops = []
    for i, m in enumerate([8 * w["export_mod"]] + [w["export_mod"]] * rounds["export"]):
        vals = dict(ctx, m=str(m), **gen.draw(export_t["params"], rng, ctx["n_keys"]))
        vals["r"] = str(int(vals["r"]) % m)
        ops.append({"kind": "export", "id": f"e{i}", "round": i - 1,
                    "sql": gen.fill(export_t["body"], vals),
                    "key": "l_orderkey", "out": f"out/export_{i}.csv"})
    phases.append(dict(name="export", ops=deal(ops, 1, slots), warmup=1))

    # the writes of one untimed round on a small table of its own, then the
    # timed rounds
    dml_t = [t for t in gen.parse_templates(os.path.join(gen.TEMPLATES, "dml.sql"))
             if t["kind"] == "read" or w["dml_writes"] is None
             or t["name"] in w["dml_writes"]]
    rpw = w["reads_per_write"]
    warm = [d for d in gen.dml_stream(dml_t, rng, 1, dict(ctx, t=WARM_TABLE, n_keys=WARM_KEYS))
            if d["kind"] == "write" and w["dml_warmup"]]
    dml = gen.dml_stream(dml_t, rng, rounds["dml"], ctx, rpw)
    ops = []
    for i, d in enumerate([dict(x, round=-1) for x in warm] + dml):
        table = WARM_TABLE if d["round"] < 0 else DML_TABLE
        if d["kind"] == "write":
            ops.append({"kind": "write", "id": f"d{i}", "template": d["template"],
                        "round": d["round"], "table": table,
                        "sqls": d["engine"], "duckdb": d["duckdb"]})
        else:
            ops.append({"kind": "stmt", "id": f"d{i}", "template": d["template"],
                        "round": d["round"], "sql": d["sql"], "sort_col": d["sort_col"],
                        "search": d["search"], "keep_rows": True})
    create = "CREATE TABLE {} AS SELECT " + DML_COLUMNS + " FROM orders"
    phases.append(dict(
        name="dml", ops=deal(ops, len(warm), slots), warmup=len(warm),
        table=DML_TABLE, final_table=DML_TABLE,
        prelude=[f"DROP TABLE IF EXISTS {WARM_TABLE}", f"DROP TABLE IF EXISTS {DML_TABLE}"]
        + [create.format(WARM_TABLE) + f" WHERE o_orderkey < {WARM_KEYS}"] * bool(warm)
        + [create.format(DML_TABLE)],
        duckdb_setup=[
            f"CREATE TABLE {DML_TABLE} (o_orderkey BIGINT PRIMARY KEY, "
            "o_custkey BIGINT, o_orderstatus VARCHAR, o_totalprice DOUBLE, "
            "o_orderpriority VARCHAR)",
            f"INSERT INTO {DML_TABLE} SELECT {DML_COLUMNS} FROM orders"]))

    # the first round is the warm-up
    ops = []
    for r in range(-1, rounds["curation"]):
        for q in w["pipelines"]:
            docs = tables["embeddings" if q.startswith("p_sim") else "documents"]["rows"]
            ops.append({"kind": "pipeline", "id": f"c{len(ops)}", "query": q, "round": r,
                        "dir": "folder", "out": f"out/{q}", "docs": docs})
    n_warm = len(w["pipelines"])
    phases.append(dict(name="curation", ops=deal(ops, n_warm, slots), warmup=n_warm))

    if trace:
        phases.append({"name": "ngram", "warmup": 0, "ops": deal(
            [{"kind": "ngram", "id": f"n{i}", "dir": "folder", "round": 0,
              "docs": tables["documents"]["rows"]} for i in range(2)], 0, slots)})

    views = [f"CREATE OR REPLACE VIEW {n} AS SELECT * FROM {source(info['path'])}"
             for n, info in tables.items()]
    plan = {"work": work, "data": os.path.join(work, "data"), "cpus": os.cpu_count(),
            "trace": trace, "trace_every": 2, "slots": slots,
            "views": views, "phases": phases}
    return plan, tables, gen_s


def run_jvm(classes, plan, work):
    plan_path = os.path.join(work, "plan.json")
    out_path = os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, RESOURCES, os.path.join(spark_jars(), "*")])
    cmd = ["java", f"-Xmx{DRIVER_HEAP}", "-Xss8m", *GC, *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Workbench", plan_path, out_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_CPUS=str(plan["cpus"]))
    r = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=JVM_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(out_path):
        log(r.stdout[-6000:])
        sys.exit(f"perfbench: workbench JVM failed (exit {r.returncode})")
    with open(out_path) as f:
        return json.load(f)


# --- metrics ------------------------------------------------------------------------

def _wall(o):
    return o["end"] - o["start"]


# Host speed drifts on shared machines (the same run can take twice as long
# a few minutes later), so timings are reported at a reference host speed:
# each is scaled by CALIB_REF_MS / the median of the run's calibration
# points (each the fastest of three runs of a fixed integer loop on N
# threads at once, Calib in Workbench.scala). The raw values are printed
# beside them.
CALIB_REF_MS = 50.0
TIMES = ("setup_s", "import_s", "stmt_p50_ms", "stmt_p95_ms", "dml_p50_ms", "read_p50_ms")
RATES = ("scan_rows_per_s", "export_rows_per_s", "curation_docs_per_s")


def host_factor(result):
    """How much slower than the reference this run's host was (>1 slower)."""
    return statistics.median(result["facts"]["calib_ms"]) / CALIB_REF_MS


def curation_rate(pipes, spec):
    """Documents of one run of every pipeline over the sum of each
    pipeline's median wall time: a steady mix whatever the order."""
    walls, docs = {}, {}
    for o in pipes:
        q = spec[o["id"]]["query"]
        walls.setdefault(q, []).append(_wall(o))
        docs[q] = spec[o["id"]]["docs"]
    return sum(docs.values()) / (sum(M.median(w) for w in walls.values()) / 1000)


def end_to_end(result, tables, affected, work):
    ops = result["ops"]
    by = lambda phase, kind: [o for o in ops if o["phase"] == phase and o["kind"] == kind]
    stmt = by("stmt", "stmt")
    writes, reads = by("dml", "write"), by("dml", "stmt")
    exports, pipes = by("export", "export"), by("curation", "pipeline")
    setups = result["setups"]
    start = next(p for p in result["phases"]
                 if p["phase"] == "dml" and p["kind"] == "start_table")
    n_orders = tables["orders"]["rows"]
    compact = M.dir_bytes(os.path.join(work, "gate", "dml"))
    stmt_ms = [_wall(o) for o in stmt]
    dml_ms = [_wall(o) for o in writes]
    tail_s, p_s, n_s = M.tail(stmt_ms)
    spec = {o["id"]: o for p in result["plan_phases"] for o in p["ops"]}
    m = {
        "setup_s": (M.median([s["total_ms"] for s in setups]) / 1000, "s"),
        "import_s": (M.median([s["import_ms"] for s in setups]) / 1000, "s"),
        "stmt_p50_ms": (M.median(stmt_ms), "ms"),
        "stmt_p95_ms": (tail_s, "ms"),
        "scan_rows_per_s": (sum(spec[o["id"]]["input_rows"] for o in stmt)
                            / (sum(stmt_ms) / 1000), "rows/s"),
        "export_rows_per_s": (M.median([o.get("rows", 0) / (_wall(o) / 1000)
                                        for o in exports]), "rows/s"),
        "curation_docs_per_s": (curation_rate(pipes, spec), "docs/s"),
        "dml_p50_ms": (M.median(dml_ms), "ms"),
        "read_p50_ms": (M.median([_wall(o) for o in reads]), "ms"),
        "write_amp": (M.write_amp(sum(o.get("bytes_added", 0) for o in writes),
                                  sum(affected.get(o["op"], 0) for o in writes),
                                  start["bytes"], n_orders), "x"),
        "space_amp": (M.space_amp(writes[-1]["bytes_live"] if writes else start["bytes"],
                                  compact), "x"),
        "peak_rss_mb": (result["facts"]["peak_rss_kb"] / 1024, "MB"),
    }
    f = host_factor(result)
    raw = dict(m)
    for k in TIMES:
        m[k] = (m[k][0] / f, m[k][1])
    for k in RATES:
        m[k] = (m[k][0] * f, m[k][1])
    notes = {"stmt_p95_ms": f"p{p_s:.1f} of n={n_s}",
             "stmt_p50_ms": f"n={n_s}", "dml_p50_ms": f"n={len(dml_ms)}",
             "read_p50_ms": f"n={len(reads)}", "export_rows_per_s": f"n={len(exports)}",
             "curation_docs_per_s": f"n={len(pipes)}", "setup_s": f"n={len(setups)}"}
    for k in TIMES + RATES:
        notes[k] = f"raw {raw[k][0]:.4f}  " + notes.get(k, "")
    return m, notes


def per_layer(result, phase_of_main="stmt"):
    """Per-layer numbers, per operation, from the traced operations; the
    scheduler/executor/planning numbers cover the main (statement) phase."""
    ev = M.Events(result.get("events", {}))
    spans = result["spans"]
    ops = result["ops"]
    traced = [o for o in ops if o["traced"]]

    def in_op(o, names):
        return [s for s in spans if s.get("op") == o["op"] and s.get("name") in names]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def jobs_in(iv):
        return ev.jobs_in(iv[0] - 1, iv[1])

    def span_jobs(o, names):
        return [j for s in in_op(o, names) for j in jobs_in((s["start"], s["end"]))]

    def span_ms(o, names):
        return sum(s["end"] - s["start"] for s in in_op(o, names))

    # a statement's traced run counts only where it ran first in its pair:
    # the second run of the same text finds its generated code compiled
    first = {}
    for o in ops:
        if o["kind"] == "stmt" and (o["id"], o["phase"]) not in first:
            first[(o["id"], o["phase"])] = o["op"]
    traced = [o for o in traced if o["kind"] != "stmt"
              or first[(o["id"], o["phase"])] == o["op"]]
    main = [o for o in traced if o["phase"] == phase_of_main
            and o["kind"] in ("stmt", "write", "pipeline")]
    out = {}
    imp = [o for o in traced if o["phase"] == "setup"]
    out["catalog.import_ms"] = mean([span_ms(o, {"catalog.importFolder"}) for o in imp])
    out["catalog.import_jobs"] = mean([len(span_jobs(o, {"catalog.importFolder"})) for o in imp])

    # router: Engine.sql wall minus planning phases and jobs inside the call
    router, inner = [], []
    for o in main:
        tot, jobs = 0.0, 0
        for s in in_op(o, {"engine.sql"}):
            iv = [(s["start"], s["end"])]
            js = jobs_in((s["start"], s["end"]))
            ph = [(a, b) for _, a, b in ev.phase_intervals(s["start"], s["end"], M.PLANNING)]
            tot += M.length(M.minus(iv, M.clip([(j["start"], j["end"]) for j in js] + ph,
                                               s["start"], s["end"])))
            jobs += len(js)
        router.append(tot)
        inner.append(jobs)
    out["router.self_ms"] = mean(router)
    out["router.inner_jobs"] = mean(inner)

    # catalyst phases, codegen, scheduler and executor on the main phase
    phase_ms = {"analysis": [], "optimization": [], "planning": []}
    qe_count, cg_ms, cg_n = [], [], []
    jobs_n, stages_n, tasks_n, sched = [], [], [], []
    ex = {k: [] for k in ("run_ms", "cpu_ms", "gc_ms", "in_bytes", "in_rows",
                          "shuffle_w", "shuffle_r", "spill")}
    for o in main:
        lo, hi = o["start"], o["end"]
        ph = ev.phase_intervals(lo, hi, M.PLANNING)
        for k in phase_ms:
            names = {"parsing", "analysis"} if k == "analysis" else {k}
            phase_ms[k].append(sum(b - a for n, a, b in ph if n in names))
        qe_count.append(len({t for t, p in ev.phases.items()
                             if any(lo - 1 <= a <= hi for a, _ in p.values())}))
        sp = [s for s in spans if s.get("op") == o["op"] and s.get("parent") == -1]
        cg_ms.append(sum(s["codegen_ns"] for s in sp) / 1e6)
        cg_n.append(sum(s["compiles"] for s in sp))
        js = ev.jobs_in(lo - 1, hi)
        ts = ev.tasks_of(js)
        jobs_n.append(len(js))
        stages_n.append(len({s for j in js for s in j["stages"] if s in ev.tasks_by_stage}))
        tasks_n.append(len(ts))
        jiv = M.clip([(j["start"], j["end"]) for j in js], lo, hi)
        tiv = M.clip([(t["start"], t["end"]) for t in ts], lo, hi)
        sched.append(M.length(M.minus(jiv, tiv)))
        for k in ex:
            v = sum(t.get(k if k != "cpu_ms" else "cpu_ns", 0) for t in ts)
            ex[k].append(v / 1e6 if k == "cpu_ms" else v)
    out["catalyst.analysis_ms"] = mean(phase_ms["analysis"])
    out["catalyst.optimizer_ms"] = mean(phase_ms["optimization"])
    out["catalyst.planning_ms"] = mean(phase_ms["planning"])
    out["catalyst.qe_count"] = mean(qe_count)
    out["codegen.compile_ms"] = mean(cg_ms)
    out["codegen.compiles"] = mean(cg_n)
    out["spark.jobs"] = mean(jobs_n)
    out["spark.stages"] = mean(stages_n)
    out["spark.tasks"] = mean(tasks_n)
    out["sched.delay_ms"] = mean(sched)
    for k, name in (("run_ms", "exec.run_ms"), ("cpu_ms", "exec.cpu_ms"),
                    ("gc_ms", "exec.gc_ms"), ("in_bytes", "scan.bytes"),
                    ("in_rows", "scan.rows"), ("shuffle_w", "shuffle.write_bytes"),
                    ("shuffle_r", "shuffle.read_bytes"), ("spill", "spill.bytes")):
        out[name] = mean(ex[k])

    stmt_ops = [o for o in traced if o["kind"] == "stmt"]
    out["render.ms"] = mean([span_ms(o, {"render.tableToRows"}) for o in stmt_ops])
    out["render.jobs"] = mean([len(span_jobs(o, {"render.tableToRows"})) for o in stmt_ops])
    out["page.ms"] = mean([span_ms(o, {"page.sortRows", "page.searchRows"}) for o in stmt_ops])

    exp = [o for o in traced if o["kind"] == "export"]
    out["export.ms"] = mean([span_ms(o, {"export.toCsvParts"}) for o in exp])
    out["export.jobs"] = mean([len(span_jobs(o, {"export.toCsvParts"})) for o in exp])
    drv = []
    for o in exp:
        for s in in_op(o, {"export.toCsvParts"}):
            js = jobs_in((s["start"], s["end"]))
            drv.append(M.length(M.minus([(s["start"], s["end"])],
                                        [(j["start"], j["end"]) for j in js])))
    out["export.driver_ms"] = mean(drv)
    out["export.bytes"] = mean([o.get("chars", 0) for o in exp])

    writes = [o for o in ops if o["phase"] == "dml" and o["kind"] == "write"]
    tw = [o for o in writes if o["traced"]]
    out["dml.jobs"] = mean([len(ev.jobs_in(o["start"] - 1, o["end"])) for o in tw])
    out["dml.files_added"] = mean([o.get("files_added", 0) for o in writes])
    out["dml.files_removed"] = mean([o.get("files_removed", 0) for o in writes])
    out["dml.bytes_written"] = mean([o.get("bytes_added", 0) for o in writes])
    out["dml.files_live"] = writes[-1]["files_live"] if writes else 0

    pipes = [o for o in traced if o["kind"] == "pipeline"]
    out["query.build_ms"] = mean([span_ms(o, {"queries.build"}) for o in pipes])
    out["query.build_jobs"] = mean([len(span_jobs(o, {"queries.build"})) for o in pipes])
    out["query.run_ms"] = mean([span_ms(o, {"export.writeParquet"}) for o in pipes])
    ng = [o for o in traced if o["kind"] == "ngram"]
    out["functions.ngram_hash_ms"] = mean([span_ms(o, {"functions.ngram_hash"}) for o in ng])

    # tracing overhead: each statement ran traced and untraced, in
    # alternating order; the second run of a text is faster, so the
    # overhead is the mean of the two orders' median differences
    pairs = {}
    for o in ops:
        if o["phase"] == phase_of_main and o["kind"] == "stmt":
            pairs.setdefault(o["id"], []).append(o)
    by_order = {True: [], False: []}
    for a, b in (p for p in pairs.values() if len(p) == 2):
        t, u = (a, b) if a["traced"] else (b, a)
        by_order[t["op"] < u["op"]].append(_wall(t) - _wall(u))
    out["trace.overhead_ms"] = (M.median(by_order[True]) + M.median(by_order[False])) / 2

    # floor split of a main-phase operation (means; parts sum to the wall)
    splits = [M.op_split(o, spans, ev) for o in main]
    for part in ("wall", "router", "catalyst", "scheduler", "executor", "render",
                 "page", "export", "queries", "other"):
        out[f"floor.{part}_ms"] = mean([s.get(part, 0.0) for s in splits])
    out["floor.codegen_ms"] = out["codegen.compile_ms"]
    _, bad = M.self_times(spans)
    out["trace.span_violations"] = len(bad)
    return out



PER_LAYER_UNITS = {
    "catalog.import_ms": "ms", "catalog.import_jobs": "count",
    "router.self_ms": "ms", "router.inner_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimizer_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.qe_count": "count",
    "codegen.compile_ms": "ms", "codegen.compiles": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "sched.delay_ms": "ms", "exec.run_ms": "ms", "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms", "scan.bytes": "bytes", "scan.rows": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes", "render.ms": "ms", "render.jobs": "count",
    "page.ms": "ms", "export.ms": "ms", "export.jobs": "count",
    "export.driver_ms": "ms", "export.bytes": "bytes", "dml.jobs": "count",
    "dml.files_added": "count", "dml.files_removed": "count",
    "dml.bytes_written": "bytes", "dml.files_live": "count",
    "query.build_ms": "ms", "query.build_jobs": "count", "query.run_ms": "ms",
    "functions.ngram_hash_ms": "ms", "trace.overhead_ms": "ms",
    "trace.span_violations": "count",
    "floor.wall_ms": "ms", "floor.router_ms": "ms", "floor.catalyst_ms": "ms",
    "floor.scheduler_ms": "ms", "floor.executor_ms": "ms", "floor.render_ms": "ms",
    "floor.page_ms": "ms", "floor.export_ms": "ms", "floor.queries_ms": "ms",
    "floor.other_ms": "ms", "floor.codegen_ms": "ms",
}


# --- main -------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--watchlist", action="store_true")
    a = ap.parse_args()
    if not a.watchlist and not a.workload:
        ap.error("--workload is required")
    classes = build()
    name = "watchlist" if a.watchlist else a.workload
    work = os.path.join(WORK, f"{name}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.watchlist:
            watchlist(classes, a.seed, work)
        else:
            bench(classes, a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)


def bench(classes, a, work):
    plan, tables, gen_s = make_plan(a.workload, a.seed, a.seconds, a.trace, work)
    t0 = time.time()
    result = run_jvm(classes, plan, work)
    jvm_s = time.time() - t0
    result["plan_phases"] = plan["phases"]
    t0 = time.time()
    failed, affected = G.Gate(plan, result, tables, log).run()
    gate_s = time.time() - t0
    attempted = sum(1 for o in result["ops"] if o["phase"] != "setup")
    facts = dict(result["facts"], seed=a.seed, workload=a.workload,
                 input_rows={k: v["rows"] for k, v in tables.items()},
                 input_bytes={k: v["bytes"] for k, v in tables.items()},
                 gen_s=round(gen_s, 2), jvm_s=round(jvm_s, 2), gate_s=round(gate_s, 2))
    print("host " + json.dumps(facts))
    print("phases " + json.dumps({p["phase"]: [p["executed"], round(p["wall_ms"])]
                                  for p in result["phases"] if p["kind"] == "phase"}))
    print("warm-up " + json.dumps({p["phase"]: [round(p["prelude_ms"]), round(p["wall_ms"])]
                                   for p in result["phases"] if p["kind"] == "warmup"}))
    print("setups " + json.dumps([[round(s["total_ms"]), round(s["import_ms"])]
                                  for s in result["setups"]]))
    print(f"host_factor {host_factor(result):.4f} (calibration probe median / {CALIB_REF_MS} ms)")
    if a.trace:
        layers = per_layer(result)
        out = {k: {"value": layers[k], "unit": PER_LAYER_UNITS[k]} for k in PER_LAYER_UNITS}
        for k in PER_LAYER_UNITS:
            print(f"{k:28s} {layers[k]:14.3f} {PER_LAYER_UNITS[k]}")
    else:
        m, notes = end_to_end(result, tables, affected, work)
        out = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        for k, (v, u) in m.items():
            print(f"{k:22s} {v:14.4f} {u:7s} {notes.get(k, '')}")
        print(f"fail_frac              {len(failed) / max(1, attempted):14.4f} "
              f"(failed {len(failed)} of {attempted})")
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": out}))


def watchlist(classes, seed, work):
    """The watchlist queries through the tracer at sf0.1: one untimed
    round, then the medians of two traced rounds."""
    tabs = gen.make_tables(seed, 0.1, 5000, 2000)
    tables = gen.write_folder(tabs, os.path.join(work, "data", "folder"), 8)
    ops = [{"kind": "pipeline", "id": f"w{i}_{q}", "query": q, "dir": "folder",
            "out": f"out/{q}", "docs": 0, "round": i} for i in range(3) for q in WATCHLIST]
    plan = {"work": work, "data": os.path.join(work, "data"), "cpus": os.cpu_count(),
            "trace": 1, "trace_every": 1, "slots": 2, "views": [],
            "phases": [{"name": "watch", "ops": deal(ops, len(WATCHLIST), 2),
                        "warmup": len(WATCHLIST)}]}
    result = run_jvm(classes, plan, work)
    ev = M.Events(result["events"])
    report = {}
    for q in WATCHLIST:
        mine = [o for o in result["ops"] if o["phase"] == "watch" and o["id"].endswith(q)]
        splits = [M.op_split(o, result["spans"], ev) for o in mine]
        report[q] = {k: round(statistics.median(s.get(k, 0.0) for s in splits), 1)
                     for k in ("wall", "queries", "export", "catalyst", "scheduler",
                               "executor", "other")}
        report[q]["jobs"] = statistics.median(
            len(ev.jobs_in(o["start"] - 1, o["end"])) for o in mine)
        report[q]["codegen"] = round(statistics.median(
            sum(s["codegen_ns"] for s in result["spans"] if s.get("op") == o["op"]
                and s.get("parent") == -1) / 1e6 for o in mine), 1)
    print("host " + json.dumps(dict(result["facts"], seed=seed)))
    print(json.dumps(report))


if __name__ == "__main__":
    main()
