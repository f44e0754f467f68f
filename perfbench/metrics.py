"""Arithmetic of the benchmark: percentiles, interval unions, span self
time, and the reduction of one raw run record (written by the JVM side,
perfbench.Harness) into end-to-end and per-layer metrics.

Times in the raw record's spans, jobs and query executions are epoch
milliseconds; every metric is reported in the unit BENCHMARK.json names.
"""
import math
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q, min_beyond=MIN_BEYOND):
    """Nearest-rank q-quantile of xs, or None when fewer than `min_beyond`
    samples lie strictly beyond its rank (the sample cannot support it)."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return sorted(xs)[rank - 1]


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(clip(children, start, end))


# ----------------------------------------------------------------- reduce


def check_ops(raw, expected):
    """Marks each op ok or failed. Catalog ops must match the expected row
    count and hash; align ops carry the JVM side's own output checks.
    Returns (attempted, failed, first failure message or None)."""
    attempted = failed = 0
    first = None
    for p in raw["passes"]:
        for op in p["ops"]:
            attempted += 1
            if op["ok"] and op["name"] in expected:
                want = expected[op["name"]]
                got = op["check"]
                if got.get("rows") != want["rows"] or got.get("hash") != want["hash"]:
                    op["ok"] = False
                    op["error"] = (f"rows {got.get('rows')} hash {got.get('hash')}, "
                                   f"expected rows {want['rows']} hash {want['hash']}")
            if not op["ok"]:
                failed += 1
                first = first or f"{op['name']}: {op['error']}"
    return attempted, failed, first


def _ok_latencies(p):
    return [op["latency_s"] for op in p["ops"] if op["ok"]]


def end_to_end(raw):
    setups = raw["setups"]
    passes = raw["passes"]
    warm = [p for p in passes if p["kind"] == "warm"]
    lat = [x for p in warm for x in _ok_latencies(p)]
    return {
        "setup_s": median([s["session_s"] + s["table_load_s"] for s in setups]),
        "cold_pass_s": sum(_ok_latencies(passes[0])),
        "pass_s": median([sum(_ok_latencies(p)) for p in warm]),
        "op_p50_s": median(lat),
    }


def op_tail(raw):
    """(p90 or None, sample count) of warm op latency."""
    lat = [x for p in raw["passes"] if p["kind"] == "warm" for x in _ok_latencies(p)]
    return percentile(lat, 0.9), len(lat)


ALIGN_STAGES = ["read", "markdup", "bqsr", "sort"]


def _span_map(raw):
    by_op = {}
    for s in raw["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    return by_op


def _derived_children(raw):
    """Listener-derived spans per op: each Spark job, and each Catalyst
    QueryExecution from its optimization start to its end."""
    out = {}
    for j in raw["jobs"]:
        if j["end"] is not None:
            out.setdefault(j["op"], []).append(("job", j["start"], j["end"]))
    for q in raw["qes"]:
        out.setdefault(q["op"], []).append(("qe", q["start"], q["end"]))
    return out


def _layer_self_times(spans, derived):
    """Self time (ms) per layer over one op's spans. Benchmark spans nest
    by parent id; a listener-derived span belongs to the innermost
    benchmark span containing its start, and a job inside a
    QueryExecution is that execution's child."""
    layer = {}

    def name_of(s):
        n = s["name"]
        return "build" if n.endswith(".call") else "force" if n.endswith(".force") else n

    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in kids:
            kids[s["parent"]].append((s["start"], s["end"]))
    qes = [d for d in derived if d[0] == "qe"]
    jobs = [d for d in derived if d[0] == "job"]
    for s in spans:
        inner = [d for d in derived
                 if s["start"] <= d[1] < s["end"]
                 and not any(c["parent"] == s["id"] and c["start"] <= d[1] < c["end"]
                             for c in spans)]
        # a job inside a qe is the qe's child, not the span's
        top = [d for d in inner if d[0] == "qe" or
               not any(q[1] <= d[1] < q[2] for q in inner if q[0] == "qe")]
        children = kids[s["id"]] + [(d[1], d[2]) for d in top]
        k = name_of(s)
        layer[k] = layer.get(k, 0.0) + self_time(s["start"], s["end"], children)
    for q in qes:
        inner = [(j[1], j[2]) for j in jobs if q[1] <= j[1] < q[2]]
        layer["qe"] = layer.get("qe", 0.0) + self_time(q[1], q[2], inner)
    layer["job"] = union_length([(j[1], j[2]) for j in jobs])
    return layer


def per_layer(raw):
    cpus = raw["cpus"]
    passes = raw["passes"]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    spans_by_op = _span_map(raw)
    derived = _derived_children(raw)
    jobs_by_op = {}
    for j in raw["jobs"]:
        jobs_by_op.setdefault(j["op"], []).append(j)
    qes_by_op = {}
    for q in raw["qes"]:
        qes_by_op.setdefault(q["op"], []).append(q)
    tasks = {int(k): v for k, v in raw["tasks"].items()}

    def op_ids(p):
        return [op["id"] for op in p["ops"]]

    def spans_named(p, pred):
        return [s for i in op_ids(p) for s in spans_by_op.get(i, []) if pred(s["name"])]

    def dur(spans):
        return sum(s["end"] - s["start"] for s in spans) / 1e3

    def task_sum(p, k):
        return sum(tasks.get(i, [0] * 6)[k] for i in op_ids(p))

    def pass_jobs(p):
        return [j for i in op_ids(p) for j in jobs_by_op.get(i, [])]

    def build_jobs(p):
        n = 0
        for i in op_ids(p):
            builds = [s for s in spans_by_op.get(i, []) if s["name"] == "build"]
            n += sum(1 for j in jobs_by_op.get(i, [])
                     if any(b["start"] <= j["start"] < b["end"] for b in builds))
        return n

    def driver_gap(p):
        gap = 0.0
        for i in op_ids(p):
            op = next(s for s in spans_by_op[i] if s["name"] == "op")
            iv = [(j["start"], j["end"]) for j in jobs_by_op.get(i, []) if j["end"] is not None]
            gap += self_time(op["start"], op["end"], iv)
        return gap / 1e3

    def catalyst(p, phase):
        return sum(q[phase] for i in op_ids(p) for q in qes_by_op.get(i, [])) / 1e3

    def wall(p):
        return sum(op["latency_s"] for op in p["ops"])

    def med(f):
        return median([f(p) for p in traced])

    first = traced[0]
    cold = passes[0]
    setups = raw["setups"]
    m = {
        "core.session_s": median([s["session_s"] for s in setups]),
        "core.table_load_s": median([s["table_load_s"] for s in setups]),
        "queries.build_s": med(lambda p: dur(spans_named(p, lambda n: n == "build"))),
        "queries.build_jobs": build_jobs(first),
        "catalyst.analysis_s": med(lambda p: catalyst(p, "analysis")),
        "catalyst.optimization_s": med(lambda p: catalyst(p, "optimization")),
        "catalyst.planning_s": med(lambda p: catalyst(p, "planning")),
        "codegen.classes": cold["codegen_classes"],
        "codegen.compile_s": cold["codegen_ms"] / 1e3,
        "exec.jobs": len(pass_jobs(first)),
        "exec.stages": sum(j["stages"] for j in pass_jobs(first)),
        "exec.tasks": sum(j["tasks"] for j in pass_jobs(first)),
        "exec.driver_gap_s": med(driver_gap),
        "exec.task_run_s": med(lambda p: task_sum(p, 0) / 1e3),
        "exec.task_cpu_s": med(lambda p: task_sum(p, 1) / 1e9),
        "exec.gc_s": med(lambda p: task_sum(p, 2) / 1e3),
        "exec.shuffle_write_mb": med(lambda p: task_sum(p, 3) / 2**20),
        "exec.shuffle_records": task_sum(first, 4),
        "exec.spill_mb": med(lambda p: task_sum(p, 5) / 2**20),
        "exec.slot_util": med(lambda p: task_sum(p, 0) / 1e3 / (wall(p) * cpus)),
        "trace.overhead": median([wall(p) for p in traced]) / median([wall(p) for p in untraced]),
    }

    # align-pipeline: prefix forcing — each stage's share is its call plus
    # its force minus the force of the prefix before it
    def stage_times(p):
        d = {}
        for s in spans_named(p, lambda n: "." in n):
            d[s["name"]] = d.get(s["name"], 0.0) + (s["end"] - s["start"]) / 1e3
        t = {}
        prev = 0.0
        for st in ALIGN_STAGES:
            t[st] = d.get(f"{st}.call", 0.0) + d.get(f"{st}.force", 0.0) - prev
            prev = d.get(f"{st}.force", 0.0)
        t["parquet_write"] = d.get("parquet_write.call", 0.0) - prev
        t["bam_write"] = d.get("bam_write.call", 0.0) - prev
        return t

    is_align = raw["workload"] == "align-pipeline"
    names = {"read": "sources.bam_read_s", "markdup": "operators.markdup_s",
             "bqsr": "algorithms.bqsr_s", "sort": "core.sort_s",
             "parquet_write": "core.parquet_write_s", "bam_write": "sources.bam_write_s"}
    for st, metric in names.items():
        m[metric] = med(lambda p: stage_times(p)[st]) if is_align else 0.0

    def out_bytes(p, key):
        return sum(op["check"].get(key, 0) for op in p["ops"])

    m["sources.parquet_bytes"] = out_bytes(first, "parquet_bytes")
    m["sources.bam_bytes"] = out_bytes(first, "bam_bytes")
    m["sources.stored_bytes_ratio"] = (
        out_bytes(first, "parquet_bytes") / raw["gen"]["input_bytes"] if is_align else 0.0)

    # self time per layer, per traced warm pass
    def selfs(p):
        tot = {}
        for i in op_ids(p):
            for k, v in _layer_self_times(spans_by_op.get(i, []), derived.get(i, [])).items():
                tot[k] = tot.get(k, 0.0) + v / 1e3
        return tot

    per_pass = [selfs(p) for p in traced]
    for k in ["op", "build", "force", "qe", "job"]:
        m[f"self.{k}_s"] = median([d.get(k, 0.0) for d in per_pass])
    return m
