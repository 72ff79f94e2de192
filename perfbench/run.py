#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness, runs one
workload for a fixed time, verifies its outputs and prints one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload {olap,lake_txn,pipeline} --seed N
                           --seconds S --trace {0,1} [--smoke]

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
--smoke runs every workload at toy size (sf0.001, one corpus replica,
two lake cycles) in seconds. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

WORKLOADS = ("olap", "lake_txn", "pipeline")
BUILD_TIMEOUT_S = 840
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
LAKE_ENGINE_OPS = ("append", "delete_cow", "delete_mor", "update", "upsert",
                   "compact", "expire")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(BENCH, "src", "main", "scala")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt when the sources changed; returns
    the runtime classpath."""
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp_file = os.path.join(BENCH, "target", "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"], cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        fail(f"build failed (sbt exit {rc}); see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def fixture(sf):
    """The input tables: the repository's deterministic TPC-H-ish fixture
    (seed 42), kept under perfbench/fixture/ so the benchmark reads only
    inside its checkout."""
    d = os.path.join(BENCH, "fixture", f"sf{sf}")
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        fail(f"fixture tables not found under {d}")
    return d


def jvm_timeout(seconds):
    """The harness's time limit: start-up and set-up, then timed passes
    that overrun `seconds` by up to 5/4, or more with --trace 1, which runs
    at least three passes. Never under 170 s."""
    return max(170, 120 + 4 * seconds)


def run_jvm(args, cp, fixture_dir, run_dir, out_json):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
            args.workload, str(args.seed), str(args.seconds),
            str(args.trace), fixture_dir, os.path.join(run_dir, "jvm"),
            out_json, "1" if args.smoke else "0",
            os.path.join(run_dir, "inputs")]
    log = os.path.join(WORK, f"{args.workload}.log")
    launch_ms = time.time() * 1000
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=jvm_timeout(args.seconds))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; see {log}", 4)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out_json):
        fail(f"harness exited {rc}; see {log}", 4)
    with open(out_json) as f:
        return json.load(f), launch_ms


def pct(xs, q):
    """Percentile by linear interpolation (q in 0..100)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def verify_queries(res, fixture_dir, run_dir):
    """Marks each query op whose digest differs from DuckDB's oracle."""
    extra = res["extra"]
    sql = extra["oracle_sql"]
    # the inputs are a pure function of the fixture, the replica count and
    # the harness that builds them, so their expected digests are cached
    ident = [fixture_dir, extra.get("replicas"), sql,
             None if extra["data_dir"] == fixture_dir else source_stamp()]
    key = hashlib.sha256(json.dumps(ident).encode()).hexdigest()[:16]
    cache = os.path.join(WORK, f"oracle-{key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            expected = json.load(f)
    else:
        import oracle
        expected = oracle.expected_digests(
            extra["data_dir"], sql, os.path.join(run_dir, "duckdb"))
        with open(cache, "w") as f:
            json.dump(expected, f)
    for op in res["ops"]:
        want = expected[op["q"]]
        if "error" not in op and [op["rows"], int(op["hash"])] != list(want):
            op["error"] = (f"result differs from the oracle: {op['rows']} rows, "
                           f"expected {want[0]}")


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def job_totals(ops, phases=None):
    """Summed job stats of the given ops (optionally only some phases)."""
    keys = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
            "sched_delay_ms", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "input_bytes", "wall_ms")
    tot = dict.fromkeys(keys, 0.0)
    for op in ops:
        for phase, st in op.get("jobs", {}).items():
            if phases is None or phase in phases:
                for k in keys:
                    tot[k] += st[k]
    return tot


def metrics(args, res, launch_ms, manifest):
    setup, extra = res["setup"], res["extra"]
    passes = [p for p in res["passes"] if p["pass"] >= 0]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    timed = {p["pass"] for p in plain}
    ops = [o for o in res["ops"] if o["pass"] in timed]
    failed = sum(1 for o in res["ops"] if "error" in o) + \
        sum(1 for c in res["checks"] if not c["ok"])
    attempted = len(res["ops"]) + len(res["checks"])
    e2e = {
        "setup_s": ((setup["session_ready_ms"] - launch_ms)
                    + med(setup["prep_ms"]) + setup.get("once_ms", 0)) / 1000,
        "pass_s": med([p["ms"] for p in plain]) / 1000,
        "first_pass_s": setup["first_pass_ms"] / 1000,
    }
    # failed_frac is 0 in every correct run and peak_rss_mb swings by a
    # fifth between runs (heap growth timing), so neither can gate
    layer = {"failed_frac": failed / attempted,
             "peak_rss_mb": extra["peak_rss_mb"]}
    cores = extra["env"]["cores"]
    if args.workload in ("olap", "pipeline"):
        by_q = {}
        for o in ops:
            by_q.setdefault(o["q"], []).append(o["ms"])
        e2e["geomean_ms"] = geomean([med(v) for v in by_q.values()])
        for q, v in sorted(by_q.items()):
            layer[f"query.{q}.ms"] = med(v)
        if args.workload == "pipeline":
            names = {"q_dedup_exact": "exact", "q_dedup_exact_fast": "exact_fast",
                     "q_dedup_minhash": "minhash", "q_sim_cosine": "cosine",
                     "q_text_stats": "text_metrics"}
            for q, v in by_q.items():
                layer[f"ops.{names[q]}.ms"] = med(v)
            pairs = [o["rows"] for o in res["ops"]
                     if o["q"] == "q_dedup_minhash" and "rows" in o]
            layer["ops.minhash_pairs"] = med(pairs)
    else:
        reads = [o["ms"] for o in ops if o["class"] == "read"] or [math.nan]
        writes = [o["ms"] for o in ops if o["class"] == "write"] or [math.nan]
        by_kind = {}
        for o in ops:
            by_kind.setdefault(o["kind"], []).append(o["ms"])
        e2e["geomean_ms"] = geomean([med(v) for v in by_kind.values()])
        # a pass holds 6 reads and 12 writes, too few for a percentile or
        # the write median to hold across runs (IQR 16-32% of the median
        # over 10 seeds), and write_amp and space_amp do not apply to the
        # other workloads, so these only report per layer
        layer["read_p50_ms"] = pct(reads, 50)
        layer["read_p90_ms"] = pct(reads, 90)
        layer["write_p50_ms"] = pct(writes, 50)
        layer["write_p90_ms"] = pct(writes, 90)
        layer["write_amp"] = (sum(p["bytes_added"] for p in plain)
                              / max(1.0, sum(p["logical_bytes"] for p in plain)))
        layer["space_amp"] = med([p["dir_bytes"] / p["live_bytes"] for p in plain])
        scans = [o for o in ops if "files_scanned" in o]
        layer["core.scan_plan_ms"] = med(
            [o["scan_plan_ms"] for o in ops if "scan_plan_ms" in o])
        sc = sum(o["files_scanned"] for o in scans)
        sk = sum(o["files_skipped"] for o in scans)
        layer["core.files_scanned"] = sc / max(1, len(scans))
        layer["core.files_skipped"] = sk / max(1, len(scans))
        layer["core.prune_frac"] = sk / max(1, sc + sk)
        samples = [s for p in plain for s in p["samples"]]
        for k in ("live_files", "manifests", "metadata_bytes"):
            layer[f"core.{k}"] = med([s[k] for s in samples])
        for k in LAKE_ENGINE_OPS:
            layer[f"engine.{k}.ms"] = med(by_kind[k])
        n = len(plain)
        layer["engine.files_rewritten"] = sum(
            o.get("rewritten", 0) for o in ops) / n
        layer["engine.files_dropped"] = sum(o.get("dropped", 0) for o in ops) / n
        layer["engine.bytes_written"] = sum(p["bytes_added"] for p in plain) / n
    if traced:
        tpass = {p["pass"] for p in traced}
        tops = [o for o in res["ops"] if o["pass"] in tpass]
        n = len(traced)
        layer["trace.overhead_s"] = (med([p["ms"] for p in traced])
                                     - med([p["ms"] for p in plain])) / 1000
        if args.workload in ("olap", "pipeline"):
            eager = job_totals(tops, {"queries.construct"})
            layer["queries.construct_ms"] = sum(o["construct_ms"] for o in tops) / n
            layer["queries.eager_jobs"] = eager["jobs"] / n
            layer["queries.eager_task_ms"] = eager["run_ms"] / n
            layer["plans.plan_ms"] = sum(o["plan_ms"] for o in tops) / n
        t = job_totals(tops)
        names = {"cpu_ms": "task_cpu_ms", "run_ms": "task_run_ms"}
        for k in ("wall_ms", "cpu_ms", "run_ms", "gc_ms", "sched_delay_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes", "jobs", "stages", "tasks"):
            layer[f"exec.{names.get(k, k)}"] = t[k] / n
        layer["exec.core_busy_frac"] = t["run_ms"] / max(1.0, t["wall_ms"] * cores)
    # every run reports every metric of its set as BENCHMARK.json lists
    # them. A layer, query or operation the workload never runs did no
    # work and reads 0; every end-to-end metric applies to every workload.
    want = manifest["per_layer" if args.trace else "end_to_end"]
    got = layer if args.trace else e2e
    listed = {m["name"] for m in want}
    odd = (set(got) - listed) | (set() if args.trace else listed - set(got))
    if odd:
        fail(f"metrics not matched with BENCHMARK.json: {sorted(odd)}", 5)
    # a failed run can leave a median of nothing; its line still reports
    # correct: false
    out = {m["name"]: {"value": v if math.isfinite(v) else 0,
                       "unit": m["unit"]}
           for m in want for v in [got.get(m["name"], 0)]}
    return attempted, failed, out


def cleanup(run_dir, out_json):
    shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.exists(out_json):
        os.remove(out_json)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to the benchmark; run from a "
             "checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    fixture_dir = fixture(0.001 if args.smoke else 0.1)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    out_json = os.path.join(WORK, f"result-{os.getpid()}.json")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        res, launch_ms = run_jvm(args, cp, fixture_dir, run_dir, out_json)
        if args.workload in ("olap", "pipeline"):
            verify_queries(res, fixture_dir, run_dir)
    finally:
        cleanup(run_dir, out_json)
    attempted, failed, out = metrics(args, res, launch_ms, manifest)
    if res["spans"]:
        # the traced passes' spans with their job totals, for inspection
        with open(os.path.join(WORK, f"trace-{args.workload}.json"), "w") as f:
            json.dump(res["spans"], f)
    env = dict(res["extra"]["env"])
    env["source"] = source_stamp()[:16]
    for k in ("replicas", "corpus_docs"):
        if k in res["extra"]:
            env[k] = res["extra"][k]
    for o in res["ops"] + res["checks"]:
        if "error" in o or o.get("ok") is False:
            print("FAILED", json.dumps(o), file=sys.stderr)
    print("env " + json.dumps(env, sort_keys=True))
    print("setup " + json.dumps({
        "jvm_session_ms": res["setup"]["session_ready_ms"] - launch_ms,
        **{k: v for k, v in res["setup"].items() if k != "session_ready_ms"},
        "passes": [round(p["ms"]) for p in res["passes"]]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
