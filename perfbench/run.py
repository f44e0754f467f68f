#!/usr/bin/env python3
"""Per-change benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine and
the harness from source (sbt, into .bench_build/ or $CARGO_TARGET_DIR); later
runs reuse the build while the sources are unchanged. The harness runs in a
single JVM driver with one closed-loop client; see perfbench/README.md for
the workloads and metrics.

stdout: one line per metric ({"metric", "unit", "workload", "value"}), then,
as the last line, the result object {"correct", "attempted", "failed",
"metrics"}: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Exits 2 at once on bad arguments or missing inputs, before any
timing starts; exits 1 if the harness fails.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

WORKLOADS = json.loads((HERE / "workloads.json").read_text())
EXPECTED = json.loads((HERE / "expected.json").read_text())
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None
UNITS = {m["name"]: m["unit"] for k in ("end_to_end", "per_layer") for m in (SPEC or {}).get(k, [])}

JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    def seed(v):
        if not v.isdigit():
            raise argparse.ArgumentTypeError(f"seed must be a non-negative integer, got {v!r}")
        return int(v)

    def seconds(v):
        if not v.isdigit() or not 1 <= int(v) <= 600:
            raise argparse.ArgumentTypeError(f"seconds must be an integer in 1..600, got {v!r}")
        return int(v)

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=seed)
    p.add_argument("--seconds", required=True, type=seconds)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    p.add_argument("--record-expected", action="store_true",
                   help="write the observed catalog row counts and hashes to expected.json")
    return p.parse_args(argv)  # exits 2 on any error


def testdata_dir():
    return Path(os.path.expanduser(os.environ.get("GRAFT_TESTDATA", "~/testdata"))) / "sf0.1"


def preflight(args):
    """Everything that can be wrong with the inputs, checked before timing."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT}/src/main/scala/graft")
    if not os.environ.get("SPARK_HOME") or not (Path(os.environ["SPARK_HOME"]) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark installation (its jars/ are the classpath)")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    w = WORKLOADS[args.workload]
    if w["kind"] == "catalog":
        names = w["queries"]
        bad = [q for q in names if q not in EXPECTED and not args.record_expected]
        if bad or len(set(names)) != len(names):
            fail(f"workload {args.workload}: queries without expected values or repeated: {bad}")
        sf = testdata_dir()
        missing = [t for t in w["tables"] if not (sf / f"{t}.parquet").exists()]
        if missing:
            fail(f"testdata tables missing under {sf}: {missing}")


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def build():
    """Compiles engine + harness with sbt unless the sources are unchanged."""
    out = build_dir()
    classes = out / "perfbench" / "scala-2.13" / "classes"
    h = hashlib.sha256()
    srcs = sorted(list((ROOT / "src" / "main").rglob("*")) + list((HERE / "src").rglob("*")))
    for f in srcs + [HERE / "build.sbt", HERE / "project" / "build.properties"]:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    stamp = out / "perfbench" / "stamp"
    if classes.is_dir() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return classes
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=str(out))
    log = out / "build.log"
    code = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "-Dsbt.server.autostart=false", "compile"], HERE, env, log, BUILD_TIMEOUT_S)
    if code != 0:
        fail(f"build failed ({code}), see {log}", 1)
    stamp.write_text(h.hexdigest())
    return classes


def run_logged(cmd, cwd, env, log, timeout):
    """Runs cmd in its own process group with output to log; on timeout the
    whole group is killed. Returns the exit code, or None on timeout."""
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def cpus():
    return len(os.sched_getaffinity(0))


def warm_passes(seconds, nominal_pass_s):
    """--seconds of warm passes at the workload's nominal pass time, as a
    whole number of passes (at least two) fixed before the run, so that
    every run and every commit does the same work."""
    return max(2, round(seconds / nominal_pass_s))


def run_harness(args, classes):
    w = WORKLOADS[args.workload]
    out = build_dir()
    work = out / "work"
    for d in ("run", "tmp"):
        shutil.rmtree(work / d, ignore_errors=True)
    for d in ("run", "tmp", "logs"):
        (work / d).mkdir(parents=True, exist_ok=True)
    raw_path = work / "run" / "raw.json"
    hargs = ["--workload", args.workload,
             "--passes", str(warm_passes(args.seconds, w["nominal_pass_s"])),
             "--trace", str(args.trace), "--cpus", str(cpus()),
             "--work", str(work / "run"), "--out", str(raw_path)]
    if w["kind"] == "catalog":
        ops = list(w["queries"])
        random.Random(args.seed).shuffle(ops)  # the seed fixes the query order
        hargs += ["--data", str(testdata_dir()), "--tables", ",".join(w["tables"]),
                  "--ops", ",".join(ops)]
    else:
        inputs = work / "inputs"
        # keep one seed's input at a time; regenerating is cheaper than disk
        name = f"align-{args.seed}-{w['reads']}"
        for old in inputs.glob("align-*") if inputs.is_dir() else []:
            if old.name not in (name, name + ".json"):
                shutil.rmtree(old) if old.is_dir() else old.unlink()
        hargs += ["--input", str(inputs / name), "--reads", str(w["reads"]),
                  "--seed", str(args.seed)]
    spark = Path(os.environ["SPARK_HOME"]) / "jars"
    # C1 only: a run is too short for C2 to settle. With tiered compilation,
    # warm passes kept getting faster through the whole run (20-30 %), and
    # runs differed by up to 15 %; C1 code is in place by the end of the cold
    # pass, so warm passes are flat and repeat within a few percent.
    # Fixed heap (-Xms = -Xmx): growing from G1's 256m start, a catalog-short
    # run did ~120 young collections and 10-15 concurrent cycles, so its
    # passes carried GC work that varied with the heap size reached; at a
    # fixed 4g the same run does 8-9 young collections.
    cmd = (["java", "-XX:TieredStopAtLevel=1", "-Xms4g", "-Xmx4g",
            "-XX:ReservedCodeCacheSize=512m",
            "-XX:+UseCodeCacheFlushing"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", f"{classes}{os.pathsep}{spark}/*", "perfbench.Harness"] + hargs)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "run" / "spark-local"))
    log = work / "logs" / f"{args.workload}-{args.seed}-{args.trace}.log"
    code = run_logged(cmd, work / "run", env, log, JVM_TIMEOUT_S)
    if code is None:
        fail(f"harness exceeded {JVM_TIMEOUT_S} s, see {log}", 1)
    if code != 0 or not raw_path.exists():
        fail(f"harness exited {code}, see {log}", 1 if code != 2 else 2)
    raw = json.loads(raw_path.read_text())
    c = raw["clock"]
    print(f"perfbench: jvm start to passes {(c['passes_start'] - c['jvm_start']) / 1e3:.1f} s, "
          f"cold {(c['warm_start'] - c['passes_start']) / 1e3:.1f} s, "
          f"warm {(c['warm_end'] - c['warm_start']) / 1e3:.1f} s, "
          f"stop {(c['stopped'] - c['warm_end']) / 1e3:.1f} s; warm passes "
          + " ".join(f"{sum(op['latency_s'] for op in p['ops']):.2f}"
                     for p in raw["passes"] if p["kind"] == "warm"), file=sys.stderr)
    shutil.rmtree(work / "run", ignore_errors=True)
    return raw


def record_expected(raw):
    cold = raw["passes"][0]
    bad = [op["name"] for op in cold["ops"] if not op["ok"]]
    if bad:
        fail(f"cannot record expected values, queries failed: {bad}", 1)
    for op in cold["ops"]:
        EXPECTED[op["name"]] = {"rows": op["check"]["rows"], "hash": op["check"]["hash"]}
    (HERE / "expected.json").write_text(json.dumps(dict(sorted(EXPECTED.items())), indent=1) + "\n")


def emit(args, raw):
    attempted, failed, first_error = metrics.check_ops(raw, EXPECTED)
    if first_error:
        print(f"perfbench: {failed} of {attempted} ops failed, first: {first_error}", file=sys.stderr)
    if args.trace:
        values = metrics.per_layer(raw)
    else:
        values = metrics.end_to_end(raw)
    names = [m["name"] for m in SPEC["per_layer" if args.trace else "end_to_end"]]
    lines = []
    info = {"error_rate": (failed / attempted, "ratio"), "attempted": (attempted, "count"),
            "peak_rss_mb": (raw["peak_rss_mb"], "MB")}
    if not args.trace:
        p90, n = metrics.op_tail(raw)
        info["op_samples"] = (n, "count")
        if p90 is not None:
            info["op_p90_s"] = (p90, "s")
        if raw.get("gen"):
            info["input_reads"] = (raw["gen"]["reads"], "count")
            info["planted_duplicates"] = (raw["gen"]["planted"], "count")
    for name in names:
        lines.append({"metric": name, "unit": UNITS[name], "workload": args.workload,
                      "value": values[name]})
    for name, (v, unit) in info.items():
        lines.append({"metric": name, "unit": unit, "workload": args.workload, "value": v})
    for line in lines:
        print(json.dumps(line, separators=(",", ":")))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": values[n], "unit": UNITS[n]} for n in names}}
    print(json.dumps(result, separators=(",", ":")), flush=True)


def main(argv=None):
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if SPEC is None:
        fail(f"{ROOT}/BENCHMARK.json not found")
    preflight(args)
    t0 = time.time()
    classes = build()
    print(f"perfbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    raw = run_harness(args, classes)
    if args.record_expected:
        record_expected(raw)
    emit(args, raw)
    return 0


if __name__ == "__main__":
    sys.exit(main())
