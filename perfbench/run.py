#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload warehouse_etl --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline); later runs reuse the build while no
source file changed. Inputs are generated from --seed; the harness times
every call of the seeded schedule, then each query's output is compared
once with its DuckDB oracle (tools/check_oracle.py). The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Details (environment, per-query figures, spans) go under perfbench/.work/.
The exit code is 0 only when every output matched its oracle.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

import gen
import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CHECK_ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")
# Hard stop for the harness JVM; with the oracle check's 30 s the run stays
# inside the 180 s it may take.
JVM_TIMEOUT_S = 140
HEAP = "3g"
# A run whose 1-minute load before it exceeds this share of the cores is
# flagged contaminated: something else was using the machine.
LOAD_GATE_PER_CORE = 0.5
TIMED_PASSES = 200

WORKLOADS = {
    # Scan/shuffle/codegen: TPC-H, the reference pipeline and pruned reads
    # of layouts materialized during set-up, on 4x replicated facts.
    "warehouse_etl": dict(sf=0.01, rep=4, wipe=False, queries=[
        "pipeline_sensor_long", "q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier", "q9_product_profit", "x_footer_prune", "j_bucketed"]),
    # Lake commits, footers, fingerprint guards and streaming micro-batches,
    # cold on every call: the lake scratch is wiped before each one.
    "lake_write": dict(sf=0.01, rep=1, wipe=True, queries=[
        "x_delta_fold", "x_stream_join"]),
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and harness (sbt)")
    r = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    cps = [ln for ln in r.stdout.splitlines() if "scala-2.13/classes" in ln]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 1)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def inputs(name, seed):
    """Generated input dir for (workload, seed); only the latest is kept."""
    w = WORKLOADS[name]
    data_root = os.path.join(WORK, "data")
    path = os.path.join(data_root, f"{name}-seed{seed}")
    if not os.path.exists(os.path.join(path, "_done")):
        shutil.rmtree(data_root, ignore_errors=True)
        gen.write(path, seed, w["sf"], w["rep"])
        open(os.path.join(path, "_done"), "w").close()
    return path


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def check_oracle(data, oracle_dir, queries):
    """{query: "PASS" | failure line} from tools/check_oracle.py."""
    r = subprocess.run([sys.executable, CHECK_ORACLE, data, oracle_dir] + queries,
                       capture_output=True, text=True, timeout=30)
    verdict = {}
    for ln in r.stdout.splitlines():
        parts = ln.split(" ", 2)
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            verdict[parts[1].rstrip(":")] = "PASS" if parts[0] == "PASS" else ln
    for q in queries:
        verdict.setdefault(q, "FAIL: no oracle verdict")
    return verdict


def end_to_end(res, calls, ok, setup_s):
    walls = [c["wall_s"] for c in calls]
    p, tail_v, beyond = M.tail(walls)
    n_ok = sum(ok)
    return {
        "setup_s": setup_s,
        "qps": n_ok / res["timed_s"],
        "latency_p50_s": median(walls),
        "latency_tail_s": tail_v,
        "cpu_s_per_query": res["cpu_s"] / max(n_ok, 1),
        "success_ratio": n_ok / len(calls),
        "heap_live_mb": res["heap_live_bytes"] / 2 ** 20,
    }, {"tail_percentile": p, "tail_calls_beyond": beyond, "calls": len(calls)}


COUNTERS = ["build_s", "plan_s", "exec_s", "jobs", "stages", "tasks", "task_run_s",
            "task_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "scan_files", "scan_bytes", "cache_read_bytes",
            "write_bytes", "write_files", "codegen_compiles", "interp_nodes",
            "persisted_rdds_after", "active_jobs_after", "scratch_bytes_per_input_byte"]


def per_layer(res, spans, cores):
    """Per-layer metrics: means per traced call (max_concurrent_jobs is the
    largest over calls, core_util a ratio of sums), layer self times, and
    the tracing overhead from the traced vs untraced calls."""
    traced = [c for c in res["calls"] if c["traced"]]
    n = len(traced)
    out = {k: sum(c[k] for c in traced) / n for k in COUNTERS}
    spans = M.attach_jobs(spans)
    by_call = {}
    for s in spans:
        by_call.setdefault(s["call"], []).append(s)
    busy, gap, jobs_in_build, conc = [], [], [], []
    for c in traced:
        ss = by_call.get(c["id"], [])
        call = next(s for s in ss if s["kind"] == "call")
        stages = [(s["start_ms"], s["end_ms"]) for s in ss if s["kind"] == "stage"]
        b = M.union_length(stages, call["start_ms"], call["end_ms"]) / 1000.0
        busy.append(b)
        gap.append(c["wall_s"] - b)
        jobs = [s for s in ss if s["kind"] == "job"]
        jobs_in_build.append(sum(1 for j in jobs if j["parent"].endswith(".build")))
        conc.append(M.max_overlap([(j["start_ms"], j["end_ms"]) for j in jobs]))
    out["build_jobs"] = sum(jobs_in_build) / n
    out["stage_busy_s"] = sum(busy) / n
    out["driver_gap_s"] = sum(gap) / n
    out["sched_overhead_s"] = sum(c["task_duration_s"] - c["task_run_s"] for c in traced) / n
    out["max_concurrent_jobs"] = max(conc)
    out["core_util"] = (sum(c["task_run_s"] for c in traced) / (sum(busy) * cores)
                        if sum(busy) > 0 else 0.0)
    selfs = M.self_times(spans)
    for kind in ("call", "build", "plan", "exec", "job", "stage"):
        out[f"self_{kind}_s"] = sum(v for s in spans if s["kind"] == kind
                                    for v in [selfs[s["id"]]]) / n

    def qps(flag):
        # closed-loop rate of the traced or the untraced calls; pass 1,
        # where the JIT still settles, runs untraced and is left out
        calls = [c for c in res["calls"] if c["traced"] == flag and c["pass"] > 1]
        return sum(c["ok"] for c in calls) / sum(c["slot_s"] for c in calls)
    out["traced_qps"] = qps(True)
    out["untraced_qps"] = qps(False)
    out["tracing_overhead"] = out["untraced_qps"] / out["traced_qps"] - 1.0
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gap", action="store_true",
                    help="print count() vs noop-write medians per query instead")
    a = ap.parse_args()
    if not (os.path.isdir(ENGINE_SRC) and os.path.isfile(CHECK_ORACLE)):
        fail("engine sources or tools/check_oracle.py not found: run from a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in (spec["per_layer"] if a.trace else spec["end_to_end"])]
    if a.seconds is None:
        a.seconds = float(spec["run_seconds"])

    w = WORKLOADS[a.workload]
    cp = build()
    data = inputs(a.workload, a.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    # The JVM's temp dir and the lake scratch root are the benchmark's own:
    # both start empty, and are removed once the JVM has exited.
    lake = os.path.join(WORK, "lake")
    tmp = os.path.join(WORK, "tmp")
    for d in (lake, tmp):
        shutil.rmtree(d, ignore_errors=True)
    for d in (run_dir, lake, tmp):
        os.makedirs(d)
    sched_file = os.path.join(run_dir, "schedule.txt")
    with open(sched_file, "w") as f:
        for order in M.schedule(a.seed, w["queries"], 1 + TIMED_PASSES):
            f.write(" ".join(order) + "\n")

    cores = os.cpu_count()
    load_before = os.getloadavg()[0]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", f"data={data}", f"schedule={sched_file}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"wipe={int(w['wipe'])}",
            f"mode={'gap' if a.gap else 'run'}",
            f"lake={lake}", f"out={run_dir}", f"local={os.path.join(tmp, 'spark-local')}",
            f"warehouse={os.path.join(tmp, 'warehouse')}"]
    spawned = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    shutil.rmtree(lake, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}", 1)
    if a.gap:
        with open(os.path.join(run_dir, "gap.json")) as f:
            for r in json.load(f):
                print(f"| `{r['query']}` | {r['count_s']:.3f} | {r['noop_s']:.3f} | "
                      f"{r['noop_s'] / r['count_s']:.2f}x |")
        return
    load_after = os.getloadavg()[0]
    with open(os.path.join(run_dir, "results.json")) as f:
        res = json.load(f)

    # Correctness: each query's untimed output against its DuckDB oracle.
    verdict = check_oracle(data, os.path.join(run_dir, "oracle"), sorted(set(w["queries"])))
    for c in res["warmup"]:
        if not c["ok"]:
            verdict[c["query"]] = f"FAIL {c['query']}: warm-up call failed: {c['error']}"
    bad = sorted(q for q, v in verdict.items() if v != "PASS")
    calls = res["calls"]
    ok = [c["ok"] and c["query"] not in bad for c in calls]
    setup_s = res["first_call_ms"] / 1000.0 - spawned

    e2e, tail_info = end_to_end(res, calls, ok, setup_s)
    if a.trace:
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(ln) for ln in f]
        values = per_layer(res, spans, int(res["cores"]))
    else:
        values = e2e
    by_query = {}
    for c, good in zip(calls, ok):
        q = by_query.setdefault(c["query"], {"walls": [], "failed": 0})
        q["walls"].append(c["wall_s"])
        q["failed"] += 0 if good else 1
    data_bytes = gen.dir_bytes(data)
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "input_dir": data, "input_bytes": data_bytes, "sf": w["sf"], "rep": w["rep"],
        "nproc": cores, "heap_max_bytes": res["heap_max_bytes"], "jvm": res["jvm"],
        "spark": res["spark"], "git_commit": git_commit(),
        "load1_before": load_before, "load1_after": load_after,
        "contaminated": load_before > LOAD_GATE_PER_CORE * cores,
        "end_to_end": e2e, **tail_info, "timed_s": res["timed_s"],
        "session_s": res["session_ms"] / 1000.0 - spawned,
        "passes": res["passes"], "oracle": verdict,
        "warmup_s": {c["query"]: c["wall_s"] for c in res["warmup"]},
        "per_query": {q: {"calls": len(v["walls"]), "median_s": median(v["walls"]),
                          "failed": v["failed"]} for q, v in sorted(by_query.items())},
        "errors": sorted({f"{c['query']}: {c['error']}" for c in calls if c["error"]}),
    }
    if a.trace:
        detail["per_layer"] = values
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(results_dir, stem + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(results_dir, stem + ".spans.jsonl"))
    print(f"{a.workload} seed={a.seed}: {len(calls)} calls in {res['timed_s']:.1f} s; "
          f"latency_tail_s is p{tail_info['tail_percentile']:g} with "
          f"{tail_info['tail_calls_beyond']} calls beyond; load {load_before:.2f}->{load_after:.2f}"
          + (" (contaminated)" if detail["contaminated"] else ""))
    for q in bad:
        log(f"oracle mismatch: {verdict[q]}")
    print(json.dumps({
        "correct": not bad,
        "attempted": len(calls),
        "failed": len(calls) - sum(ok),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in wanted},
    }))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
