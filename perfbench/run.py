"""The graft benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload dashboard_fresh --seed 1 --seconds 18 --trace 0

Builds the engine from this checkout (perfbench/build.py), generates the
tables (perfbench/datagen.py), starts one JVM that sets the session up as an
embedder does and runs the workload's closed loop, checks every answer
against DuckDB, and prints one JSON object as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A human-readable report goes to stderr. See perfbench/README.md.
"""
import argparse
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(HERE, "spec.json")) as _fh:
    SPEC = json.load(_fh)
# the metrics the last line carries, in BENCHMARK.json's order
END_TO_END = [{"name": n, "unit": u} for n, u in [
    ("setup_s", "s"), ("throughput_qps", "1/s"), ("latency_p50_ms", "ms"), ("latency_p90_ms", "ms"),
    ("latency_geomean_ms", "ms"), ("cpu_ms_per_op", "ms"), ("heap_retained_mb", "MB")]]
PER_LAYER = [{"name": n, "unit": u} for n, u in [
    ("sources.resolve_calls", "count"), ("sources.resolve_ms", "ms"), ("sources.resolve_jobs", "count"),
    ("sources.insert_ms", "ms"), ("sources.write_bytes_per_row", "B"), ("sources.files_per_insert", "count"),
    ("operators.build_ms", "ms"), ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("scheduler.jobs_per_op", "count"), ("scheduler.stages_per_op", "count"),
    ("scheduler.tasks_per_op", "count"), ("scheduler.job_wall_ms", "ms"), ("scan.rows", "count"),
    ("scan.bytes", "B"), ("scan.rows_per_cpu_s", "1/s"), ("shuffle.write_bytes", "B"),
    ("shuffle.read_bytes", "B"), ("shuffle.fetch_wait_ms", "ms"), ("shuffle.spill_bytes", "B"),
    ("codegen.ops_outside_wscg", "count"), ("exec.cpu_ms", "ms"), ("exec.run_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.peak_memory_mb", "MB"), ("server.self_ms", "ms"),
    ("server.result_cache_hit_ratio", "ratio"), ("server.plan_cache_hit_ratio", "ratio"),
    ("server.response_bytes", "B"), ("trace.overhead_p50_pct", "%")]]
# the JVM may take this long beyond the window: start, warm pass, checks
SETUP_BUDGET_S = 145


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def ensure_data(build_dir, sf):
    with open(datagen.__file__, "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(build_dir, "data", f"sf{sf}-{tag}")
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        log(f"datagen: sf{sf} -> {out}")
        datagen.generate(out, sf, SPEC["data"]["generator_seed"])
        open(os.path.join(out, "DONE"), "w").close()
    return out


def percentile(xs, q):
    """Linearly interpolated percentile, q a whole number in 1..99."""
    return xs[0] if len(xs) == 1 else statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def java_opts():
    """JDK 17 module opens Spark needs outside spark-submit."""
    pkgs = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
            "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
            "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
            "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
            "java.base/sun.util.calendar"]
    return [x for p in pkgs for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_jvm(classpath, plan, work, timeout_s):
    plan_path = os.path.join(work, "plan.json")
    out_path = os.path.join(work, "out.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    plan["launch_epoch_ms"] = time.time() * 1000.0
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    # -XX:-UsePerfData: no hsperfdata file under /tmp, outside the checkout
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}"] + java_opts() + [
           "-cp", classpath, "graft.perfbench.Main", plan_path, out_path]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=subprocess.PIPE, cwd=work,
                            start_new_session=True, text=True)
    try:
        _, err = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run: JVM did not finish within {timeout_s:.0f} s")
    for line in err.splitlines():
        if line.startswith("[perfbench]"):
            log(line)
    if proc.returncode != 0 or not os.path.exists(out_path):
        log("\n".join(err.splitlines()[-40:]))
        raise SystemExit(f"run: JVM failed ({proc.returncode})")
    with open(out_path) as fh:
        return json.load(fh)


def make_plan(workload, seed, seconds, data_dir, cpus, work, bad_share, guarded=True):
    w = SPEC["workloads"][workload]
    plan = {"workload": workload, "data_dir": data_dir, "cpus": cpus, "work_dir": work, "guarded": guarded}
    meta = {}
    if workload in ("dashboard_fresh", "dashboard_repeat"):
        p, meta = workloads.dashboard_plan(workload, seed, data_dir, w, seconds, bad_share)
        plan.update(p)
    elif workload == "ingest_mixed":
        p, meta = workloads.ingest_plan(seed, data_dir, w, seconds)
        plan.update(p)
    else:
        plan["results_dir"] = os.path.join(work, "olap_results")
        os.makedirs(plan["results_dir"])
        plan["order_seed"] = seed
        plan["suite_stride"] = w["suite_stride"]
    return plan, meta


def verdicts(workload, out, meta, data_dir, plan):
    """Per-op correctness, plus run-level checks that fail the whole run."""
    ops = out["ops"]
    bodies = {(b["key"], b["sha"]): b["body"] for b in out["bodies"]}
    if workload in ("dashboard_fresh", "dashboard_repeat"):
        by_pair = workloads.check_dashboard(bodies, meta, data_dir)
        ok = {o["id"]: o["status"] == 200 and by_pair.get((o["key"], o["sha"]), False) for o in ops}
        run_ok = all(w["status"] == 200 and by_pair.get((w["key"], w["sha"]), False)
                     for w in out["extra"]["warm"])
    elif workload == "ingest_mixed":
        by_op, run_ok, want = workloads.check_ingest(ops, out["extra"], meta, bodies)
        ok = {o["id"]: by_op.get(o["id"], False) for o in ops}
        if not run_ok:
            log(f"check: a warm-pass INSERT was not acknowledged, or the final row count "
                f"is not the {want} acknowledged rows")
    else:
        by_name = workloads.check_olap(plan["results_dir"], data_dir)
        bad = sorted(n for n, v in by_name.items() if not v)
        if bad:
            log(f"check: {len(bad)} suite answers differ from their oracle: {', '.join(bad)}")
        for n, e in out["extra"]["warm_errors"].items():
            log(f"check: warm pass {n}: {e}")
        ok = {o["id"]: o["status"] == 200 and by_name.get(o["key"], False) for o in ops}
        run_ok = not bad
    return ok, run_ok, bodies


SLO_MS = 1000.0


def latencies(ops, ok):
    """Client latency per op. A failed or wrong op is charged at least the
    slowest correct op of the run and at least the 1 s latency target. It so
    sits at the tail: it misses the target and can raise a latency figure,
    never lower one."""
    own = {o["id"]: o["end_ms"] - o["start_ms"] for o in ops}
    penalty = max([SLO_MS] + [own[i] for i in own if ok[i]])
    return {i: l if ok[i] else max(penalty, l) for i, l in own.items()}


def end_to_end(workload, out, ops, ok, meta):
    by_id = latencies(ops, ok)
    lat = [by_id[o["id"]] for o in ops]
    n_ok = sum(1 for o in ops if ok[o["id"]])
    span_s = (max(o["end_ms"] for o in ops) - min(o["start_ms"] for o in ops)) / 1000.0
    if workload == "olap_suite":
        # each query weighs the same, however often it ran in the window
        per_q = {}
        for o, l in zip(ops, lat):
            per_q.setdefault(o["key"], []).append(l)
        geo_base = [statistics.median(v) for v in per_q.values()]
    else:
        geo_base = lat
    m = {
        "setup_s": out["setup_ms"] / 1000.0,
        "throughput_qps": n_ok / span_s,
        "latency_p50_ms": percentile(lat, 50),
        "latency_p90_ms": percentile(lat, 90),
        "latency_geomean_ms": math.exp(sum(math.log(max(x, 1e-3)) for x in geo_base) / len(geo_base)),
        "cpu_ms_per_op": out["cpu_ms"] / len(ops),
        "heap_retained_mb": out["heap_retained_mb"],
    }
    report = dict(m)
    report["failed_ratio"] = sum(1 for o in ops if not ok[o["id"]]) / len(ops)
    report["slo_1s_ratio"] = sum(1 for o, l in zip(ops, lat) if ok[o["id"]] and l <= SLO_MS) / len(ops)
    p99 = percentile(lat, 99)
    if sum(1 for x in lat if x > p99) >= 10:
        report["latency_p99_ms"] = p99
    writes = [o for o in ops if o["key"].startswith("insert:")]
    if writes:
        wl = [by_id[o["id"]] for o in writes]
        rows = sum(workloads.insert_rows(meta, o["key"]) for o in writes if ok[o["id"]])
        report["ingest_rows_per_s"] = rows / span_s
        report["ingest_latency_p50_ms"] = percentile(wl, 50)
    return m, report


def overhead_pct(ops):
    """Tracing overhead: the traced third's p50 latency against the mean of
    the p50s of the untraced thirds before and after it, in %. Averaging the
    two sides cancels a steady drift, such as the JVM still warming up."""
    def p50(phase):
        xs = [o["end_ms"] - o["start_ms"] for o in ops if o["phase"] == phase]
        return percentile(xs, 50) if xs else None
    traced, before, after = p50("traced"), p50("before"), p50("after")
    if traced is None or before is None or after is None:
        return 0.0
    return 100.0 * (traced / ((before + after) / 2.0) - 1.0)


def per_layer(workload, out, ops, ok):
    """Averages per traced operation of what the JVM recorded, plus the
    figures that are ratios over the whole traced third."""
    traced = [o for o in ops if o["phase"] == "traced" and o["layers"]]
    tot = {}
    for o in traced:
        for k, v in o["layers"].items():
            tot[k] = tot.get(k, 0.0) + v
    m = {p["name"]: tot.get(p["name"], 0.0) / max(1, len(traced)) for p in PER_LAYER}
    ex = out["extra"]
    writes = [o for o in traced if o["key"].startswith("insert:")]
    write_rows = sum(o["layers"]["sources.write_rows"] for o in writes)
    # the files under the datasource come from the warm pass's INSERTs too
    inserts = (SPEC["workloads"]["ingest_mixed"]["warm_inserts"]
               + sum(1 for o in ops if o["key"].startswith("insert:") and ok[o["id"]]))
    cpu_s = tot.get("exec.cpu_ms", 0.0) / 1000.0
    m.update({
        "sources.insert_ms": statistics.mean(o["end_ms"] - o["start_ms"] for o in writes) if writes else 0.0,
        "sources.write_bytes_per_row": (sum(o["layers"]["sources.write_bytes"] for o in writes) / write_rows
                                        if write_rows else 0.0),
        "sources.files_per_insert": ex["dml_files"] / inserts if workload == "ingest_mixed" else 0.0,
        "scan.rows_per_cpu_s": tot.get("scan.rows", 0.0) / cpu_s if cpu_s else 0.0,
        "trace.overhead_p50_pct": overhead_pct(ops),
    })
    if workload == "olap_suite":
        # in process: no server on the path
        m.update({k: 0.0 for k in m if k.startswith("server.")})
    else:
        def ratio(kind):
            hits, misses = ex[f"{kind}_cache_hits"], ex[f"{kind}_cache_misses"]
            return hits / (hits + misses) if hits + misses else 0.0
        m.update({"server.result_cache_hit_ratio": ratio("result"),
                  "server.plan_cache_hit_ratio": ratio("plan"),
                  "server.response_bytes": statistics.mean(o["bytes"] for o in traced) if traced else 0.0})
    return m


def main():
    ap = argparse.ArgumentParser(description="graft benchmark: run one workload")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="use the sf0.001 tables")
    ap.add_argument("--inject-bad", type=float, default=0.0, metavar="SHARE",
                    help="dashboard_fresh: send this share of requests to an unknown datasource")
    ap.add_argument("--unguarded", action="store_true",
                    help="let INSERTs overlap reads and zoned SQL overlap native queries "
                         "(shows the engine defects in perfbench/README.md)")
    a = ap.parse_args()
    if a.workload not in SPEC["workloads"]:
        raise SystemExit(f"run: unknown workload {a.workload}; choose from {sorted(SPEC['workloads'])}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("run: src/main/scala not found; run from a full graft checkout")

    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build.build(build_dir)
    data_dir = ensure_data(build_dir, SPEC["data"]["smoke_sf" if a.smoke else "sf"])
    cpus = os.cpu_count() or 1
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan, meta = make_plan(a.workload, a.seed, a.seconds, data_dir, cpus, work, a.inject_bad,
                               not a.unguarded)
        plan.update(seconds=a.seconds, trace=bool(a.trace))
        out = run_jvm(classpath, plan, work, a.seconds + SETUP_BUDGET_S)
        ops = out["ops"]
        if not ops:
            raise SystemExit("run: no operation completed in the window")
        if out["exhausted_clients"]:
            raise SystemExit(f"run: {out['exhausted_clients']} clients ran out of requests before the "
                             f"window closed; raise the list rates in perfbench/spec.json")
        ok, run_ok, bodies = verdicts(a.workload, out, meta, data_dir, plan)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for o in ops if not ok[o["id"]])
    for o in ops:
        if not ok[o["id"]]:
            detail = o["error"] or bodies.get((o["key"], o["sha"]), "")
            log(f"failed: {o['key']} status={o['status']} {detail[:300]}")
            break
    e2e, report = end_to_end(a.workload, out, ops, ok, meta)
    log(f"workload={a.workload} seed={a.seed} ops={len(ops)} failed={failed}")
    log("report " + json.dumps({k: round(v, 4) for k, v in report.items()}))
    if a.trace:
        values, names = per_layer(a.workload, out, ops, ok), PER_LAYER
    else:
        values, names = e2e, END_TO_END
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": run_ok and failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
