"""Arithmetic of the workbench benchmark: percentiles, interval unions,
span self times, the per-statement floor split and DML amplification.
Pure functions over the raw record `Workbench.scala` writes, so
`test_metrics.py` can check each rule on hand-built inputs."""
import os
import statistics


# --- percentiles --------------------------------------------------------------

def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_rank(n, wanted=95.0, beyond=10):
    """The highest percentile, at most `wanted`, that has at least `beyond`
    of the n samples above it; 50 when even the median has fewer."""
    if n <= 0:
        return 50.0
    return max(50.0, min(wanted, 100.0 * (1.0 - beyond / n)))


def tail(values, wanted=95.0):
    """(value, percentile used, sample count) by the tail_rank rule."""
    p = tail_rank(len(values), wanted)
    return percentile(values, p), p, len(values)


# --- intervals ------------------------------------------------------------------

def union(intervals):
    """Merge (start, end) intervals into a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(x) for x in out]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def minus(a, b):
    """Intervals of a not covered by b."""
    out = []
    b = union(b)
    for s, e in union(a):
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append((cur, bs))
            cur = max(cur, be)
        if cur < e:
            out.append((cur, e))
    return out


# --- spans ----------------------------------------------------------------------

def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    children cover. Returns (list of self times, list of violations), a
    violation being a child that starts before or ends after its parent."""
    children = {}
    for i, s in enumerate(spans):
        children.setdefault(s["parent"], []).append(i)
    selfs, bad = [], []
    for i, s in enumerate(spans):
        kids = [spans[j] for j in children.get(i, [])]
        for k in kids:
            if k["start"] < s["start"] - 1e-6 or k["end"] > s["end"] + 1e-6:
                bad.append((s["name"], k["name"]))
        covered = length(clip([(k["start"], k["end"]) for k in kids],
                              s["start"], s["end"]))
        selfs.append(max(0.0, (s["end"] - s["start"]) - covered))
    return selfs, bad


# --- per-operation layer split -------------------------------------------------

class Events:
    """Listener events indexed for per-operation lookups."""

    def __init__(self, ev):
        self.jobs = ev.get("jobs", [])
        self.tasks_by_stage = {}
        for t in ev.get("tasks", []):
            self.tasks_by_stage.setdefault(t["stage"], []).append(t)
        self.phases = {}
        for q in ev.get("qes", []):
            self.phases[q["tracker"]] = q["phases"]

    def jobs_in(self, lo, hi):
        return [j for j in self.jobs if lo <= j["start"] <= hi]

    def tasks_of(self, jobs):
        return [t for j in jobs for s in j["stages"]
                for t in self.tasks_by_stage.get(s, [])]

    def phase_intervals(self, lo, hi, names=None):
        out = []
        for ph in self.phases.values():
            for name, (s, e) in ph.items():
                if (names is None or name in names) and lo - 1 <= s <= hi:
                    out.append((name, s, e))
        return out


PLANNING = {"parsing", "analysis", "optimization", "planning"}


def op_split(op, spans, ev):
    """Exclusive wall-time split of one traced operation, in ms:
    executor (some task running), scheduler (a job open, no task running),
    catalyst (a planning phase, no job), then each span's remaining self
    time by layer, and `other` (the benchmark's own code between calls).
    The parts add up to the operation's wall time by construction."""
    lo, hi = op["start"], op["end"]
    jobs = ev.jobs_in(lo - 1, hi)
    job_iv = clip([(j["start"], j["end"]) for j in jobs], lo, hi)
    task_iv = clip([(t["start"], t["end"]) for t in ev.tasks_of(jobs)], lo, hi)
    phase_iv = clip([(s, e) for _, s, e in ev.phase_intervals(lo, hi, PLANNING)], lo, hi)
    busy = union(job_iv + phase_iv)
    out = {"wall": hi - lo,
           "executor": length(task_iv),
           "scheduler": length(minus(job_iv, task_iv)),
           "catalyst": length(minus(phase_iv, job_iv))}
    mine = [i for i, s in enumerate(spans) if s["op"] == op["op"]]
    for i in mine:
        s = spans[i]
        kids = [(spans[j]["start"], spans[j]["end"]) for j in mine
                if spans[j]["parent"] == i]
        own = minus(clip([(s["start"], s["end"])], lo, hi), kids + busy)
        layer = LAYER_OF_SPAN.get(s["name"], "other")
        out[layer] = out.get(layer, 0.0) + length(own)
    known = sum(v for k, v in out.items() if k != "wall")
    out["other"] = out.get("other", 0.0) + (out["wall"] - known)
    return out


LAYER_OF_SPAN = {
    "engine.sql": "router",
    "render.tableToRows": "render",
    "page.sortRows": "page",
    "page.searchRows": "page",
    "export.toCsvParts": "export",
    "export.writeParquet": "export",
    "queries.build": "queries",
    "catalog.importFolder": "catalog",
    "functions.ngram_hash": "functions",
}


# --- DML amplification -----------------------------------------------------------

def write_amp(bytes_written, affected_rows, start_bytes, start_rows):
    """Bytes written into the table dir per byte of changed rows, the
    changed rows priced at the table's starting bytes per row."""
    if affected_rows <= 0 or start_rows <= 0:
        return None
    return bytes_written / (affected_rows * (start_bytes / start_rows))


def space_amp(live_bytes, compact_bytes):
    """Table dir bytes at the end per byte of a compact rewrite."""
    return live_bytes / compact_bytes if compact_bytes > 0 else None


def dir_bytes(path):
    """Bytes of the data files under a dir (hidden and `_` files skipped)."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


def median(xs):
    return statistics.median(xs) if xs else 0.0
