#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one JVM, one JSON result line.

    python3 perfbench/run.py --workload olap_reports --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine and the
driver into `.bench_build/` (see build.py). Each run then

  1. sets up in one JVM: a GraftSession.local session at nproc cores and
     the seeded inputs, three times (median), then the serving model fit
     for olap_reports; their sum is `setup_s`;
  2. runs every op once, writing its output for the oracle check, then
     one untimed pass like the timed ones: the JIT/codegen warm-up;
  3. runs timed passes over the seeded op order until `--seconds` is
     spent and at least two passes ran (each op's output fully consumed
     by a `noop` write; tables dropped and Spark's cache cleared between
     ops, outside the timing);
  4. checks the dumped outputs against DuckDB (oracle.py) and each
     serving lookup against a batch transform of the same key.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics plus `trace.overhead_ratio`, and writes the span tree to
`.bench_traces/`. The last stdout line is the result JSON; the exit code
is non-zero on any failed op or output mismatch.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

# every workload's inputs: customer 1,500, orders 15,000, lineitem 60,000
SF = 0.01
# op -> module of its headline operator (for the <module>.wall_s metrics)
WORKLOADS = {
    "olap_reports": {
        "ops": {
            "q3_join_agg": "analytics", "q7_repurchase": "analytics", "q58_interval_join": "transform",
            "q55_exact_stats": "functions",
        },
        "lookups": 6,
    },
    "iterative_stream_write": {
        "shuffle": True,
        "ops": {
            "g3_bfs_hops": "ext", "ml_kmeans_lloyd": "ml", "e4_stateful_totals": "streaming",
            "q36_orc_roundtrip": "sources",
        },
    },
}
SETUP_REPS = 3
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def plan_for(workload, seed):
    """Seeded op order, lookup keys and generator command of one run."""
    w = WORKLOADS[workload]
    rng = random.Random(seed)
    ops = list(w["ops"])
    rng.shuffle(ops)
    gen = [sys.executable, os.path.join(HERE, "gen.py"), "--sf", str(SF)]
    if w.get("shuffle"):
        gen += ["--shuffle-seed", str(seed)]
    keys = []
    n_cust = int(150_000 * SF)
    for _ in range(w.get("lookups", 0)):
        # about one key in ten is absent (the None path)
        keys.append(n_cust + rng.randrange(1000) if rng.random() < 0.1 else rng.randrange(n_cust))
    return ops, keys, gen


def run_jvm(workload, seed, seconds, trace, work):
    ops, keys, gen = plan_for(workload, seed)
    cp = build.build()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    plan = {
        "cores": str(len(os.sched_getaffinity(0))), "ops": ",".join(ops),
        "lookup_keys": ",".join(map(str, keys)), "gen_cmd": "\t".join(gen), "work_dir": work,
        "seconds": str(seconds), "trace": str(trace), "setup_reps": str(SETUP_REPS),
        "out": os.path.join(work, "records.jsonl"),
    }
    plan_file = os.path.join(work, "plan.properties")
    with open(plan_file, "w", encoding="utf-8") as fh:
        for k, v in plan.items():
            fh.write(f"{k}={v.encode('unicode_escape').decode('ascii')}\n")
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Driver", plan_file]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit(f"perfbench: driver JVM failed ({rc})")
    with open(plan["out"], encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def metric(value, unit, samples):
    return {"value": value, "unit": unit, "samples": samples}


def pass_walls(recs, traced=None):
    """Timed wall per pass: its ops and lookups, without the hygiene
    between them."""
    walls = {}
    for r in recs:
        if r["kind"] in ("op", "lookup") and traced in (None, r["traced"]):
            walls[r["pass"]] = walls.get(r["pass"], 0.0) + r["wall_s"]
    return walls


def end_to_end(recs):
    setup = [r["session_s"] + r["gen_s"] for r in recs if r["kind"] == "setup"]
    fit = next(r["fit_s"] for r in recs if r["kind"] == "fit")
    passes = pass_walls(recs).values()
    ops = [r["wall_s"] for r in recs if r["kind"] == "op"]
    rss = next(r["peak_rss_mb"] for r in recs if r["kind"] == "end")
    return {
        "setup_s": metric(statistics.median(setup) + fit, "s", len(setup)),
        "pass_s": metric(statistics.median(passes), "s", len(passes)),
        "op_p50_s": metric(statistics.median(ops), "s", len(ops)),
        "peak_rss_mb": metric(rss, "MB", 1),
    }


def latencies(recs):
    """Workload-specific latencies: serving round trips and micro-batches."""
    out = {}
    looks = [r["wall_s"] * 1e3 for r in recs if r["kind"] == "lookup"]
    if looks:
        out["lookup_p50_ms"] = metric(statistics.median(looks), "ms", len(looks))
    batches = [b for r in recs if r["kind"] == "op" for b in r["batch_ms"]]
    if batches:
        out["batch_p50_ms"] = metric(statistics.median(batches), "ms", len(batches))
    return out


MODULES = ["ext", "functions", "analytics", "transform", "ml"]


def per_layer(recs, workload):
    """Per-pass sums over the traced passes (see BENCHMARK.json)."""
    mods = WORKLOADS[workload]["ops"]
    setups = [r for r in recs if r["kind"] == "setup"]
    traced = list(pass_walls(recs, True).values())
    untraced = list(pass_walls(recs, False).values())
    n = len(traced)
    ops = [r for r in recs if r["kind"] == "op" and r["traced"]]
    looks = [r for r in recs if r["kind"] == "lookup" and r["traced"]]
    spans = ops + looks

    def tot(key, rs=spans):
        return sum(r[key] for r in rs) / n

    lookup_ms = [r["wall_s"] * 1e3 for r in looks]
    batch_ms = [b for r in ops for b in r["batch_ms"]]
    busy = {r["tag"]: union_ms(r["job_intervals"], r["start_ms"], r["end_ms"]) / 1e3 for r in spans}
    gap = lambda r: max(0.0, r["wall_s"] - busy[r["tag"]])  # noqa: E731
    tasks = sum(r["tasks"] for r in spans)
    m = {
        "core.session_s": statistics.median(s["session_s"] for s in setups),
        "core.input_gen_s": statistics.median(s["gen_s"] for s in setups),
        "queries.build_s": tot("build_s", ops),
        "queries.action_s": tot("action_s", ops),
        "spark.sql_executions": tot("sql_executions"),
        "spark.analysis_s": tot("analysis_s"),
        "spark.optimization_s": tot("optimization_s"),
        "spark.planning_s": tot("planning_s"),
        "spark.jobs": tot("jobs"),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.task_overhead_s": tot("task_overhead_s"),
        "spark.useful_task_ratio": sum(r["useful_tasks"] for r in spans) / tasks if tasks else 0.0,
        "spark.driver_gap_s": sum(gap(r) for r in spans) / n,
        "spark.job_busy_s": sum(busy.values()) / n,
        "spark.cache_builds": tot("cache_builds"),
        "spark.cache_mb": tot("cache_b") / 2**20,
        "spark.cache_partitions": tot("cache_partitions"),
        "spark.task_run_s": tot("task_run_s"),
        "spark.task_cpu_s": tot("task_cpu_s"),
        "spark.shuffle_write_mb": tot("shuffle_write_b") / 2**20,
        "spark.shuffle_read_mb": tot("shuffle_read_b") / 2**20,
        "spark.spill_mb": tot("spill_b") / 2**20,
        "spark.task_gc_s": tot("task_gc_s"),
        "sources.read_mb": tot("read_b") / 2**20,
        "sources.rows_read": tot("rows_read"),
        "sources.write_mb": tot("write_b") / 2**20,
        "sources.rows_written": tot("rows_written"),
        "sources.write_s": tot("write_s"),
        "streaming.batches": tot("batches"),
        "streaming.batch_p50_ms": statistics.median(batch_ms) if batch_ms else 0.0,
        "streaming.add_batch_s": tot("add_batch_s"),
        "streaming.wal_commit_s": tot("wal_commit_s"),
        "streaming.state_rows": tot("state_rows"),
        "streaming.state_mb": tot("state_b") / 2**20,
        "streaming.late_rows_dropped": tot("late_rows"),
        "serve.lookup_p50_ms": statistics.median(lookup_ms) if lookup_ms else 0.0,
        "serve.jobs_per_lookup": sum(r["jobs"] for r in looks) / len(looks) if looks else 0.0,
        "serve.tasks_per_lookup": sum(r["tasks"] for r in looks) / len(looks) if looks else 0.0,
    }
    for mod in MODULES:
        mine = [r for r in ops if mods[r["name"]] == mod]
        m[f"{mod}.wall_s"] = sum(r["wall_s"] for r in mine) / n
        if mod == "ml":
            m["ml.driver_gap_s"] = sum(gap(r) for r in mine) / n
    m["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    return m


def declared(group):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open("BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[group]}


def union_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def spans_tree(recs, workload):
    """Span list of the traced passes: a root per op or lookup, a
    queries.build and an action child per op, a spark.job child per job
    (under the phase it started in). Every span carries its root's id and
    its self time: duration minus the union of its children."""
    mods = WORKLOADS[workload]["ops"]
    spans = []
    for r in recs:
        if r["kind"] not in ("op", "lookup") or not r["traced"]:
            continue
        root = {"id": r["tag"], "name": r["name"], "layer": mods.get(r["name"], "serve"),
                "start_ms": r["start_ms"], "end_ms": r["end_ms"], "parent": None}
        phases = []
        if r["kind"] == "op":
            # the registry function is a thin wrapper around the op's
            # headline operator: its driver time belongs to that module;
            # the action's driver time is Spark's planning and scheduling
            phases = [{"id": r["tag"], "name": "queries.build", "layer": root["layer"], "parent": r["name"],
                       "start_ms": r["start_ms"], "end_ms": r["build_end_ms"]},
                      {"id": r["tag"], "name": "action", "layer": "spark", "parent": r["name"],
                       "start_ms": r["build_end_ms"], "end_ms": r["end_ms"]}]
        jobs = []
        for s, e in r["job_intervals"]:
            parent = next((p for p in phases if p["start_ms"] <= s < p["end_ms"]), root)
            jobs.append({"id": r["tag"], "name": "spark.job", "layer": "spark", "parent": parent["name"],
                         "start_ms": s, "end_ms": e, "_p": parent})
        for sp in [root] + phases + jobs:
            kids = phases if sp is root and phases else [j for j in jobs if j["_p"] is sp]
            iv = [(k["start_ms"], k["end_ms"]) for k in kids]
            sp["self_s"] = (sp["end_ms"] - sp["start_ms"] - union_ms(iv, sp["start_ms"], sp["end_ms"])) / 1e3
        for j in jobs:
            del j["_p"]
        spans += [root] + phases + jobs
    by_layer = {}
    for sp in spans:
        by_layer[sp["layer"]] = by_layer.get(sp["layer"], 0.0) + sp["self_s"]
    return {"workload": workload, "spans": spans, "self_s_by_layer": by_layer}


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the repository root (engine sources not found)")
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        recs = run_jvm(a.workload, a.seed, a.seconds, a.trace, work)
        import oracle  # needs the repository's scripts/check.py
        checks = oracle.check(recs, os.path.join(work, "input"), os.path.join(work, "check"))
        bad_ops = {c["op"] for c in checks if not c["ok"]}
        for c in checks:
            print(f"check {c['op']:<26} {'OK ' if c['ok'] else 'BAD'} {c['how']} ({c['secs']:.2f}s): {c['detail']}")
        timed = [r for r in recs if r["kind"] in ("op", "lookup")]
        failed = sum(1 for r in timed if r["error"] or r["name"] in bad_ops)
        bad_lookups = [r for r in recs if r["kind"] == "lookup_check" and not r["ok"]]
        failed += len(bad_lookups)
        attempted = len(timed) + sum(1 for r in recs if r["kind"] == "lookup_check")
        correct = failed == 0 and not bad_ops
        env = next(r for r in recs if r["kind"] == "env")
        end = next(r for r in recs if r["kind"] == "end")
        e2e = end_to_end(recs)
        e2e.update(latencies(recs))
        print(f"env cores={env['cores']} heap_mb={env['heap_mb']:.0f} spark={env['spark_version']} "
              f"java={env['java_version']} calib_cpu_s={env['calib_cpu_s']:.4f} "
              f"warmup_s={env['warmup_s']:.3f} window_s={end['window_s']:.3f} run_wall_s={time.time() - t0:.1f}")
        for s in (r for r in recs if r["kind"] == "setup"):
            print(f"setup rep={s['rep']} session_s={s['session_s']:.3f} gen_s={s['gen_s']:.3f}")
        for name in WORKLOADS[a.workload]["ops"]:
            walls = [r["wall_s"] for r in timed if r["name"] == name]
            print(f"op {name} median_wall_s={statistics.median(walls):.4f} (n={len(walls)})")
        gated = declared("end_to_end")
        for k, v in e2e.items():
            print(f"{'metric' if k in gated else 'info'} {k} = {v['value']:.6g} {v['unit']} (n={v['samples']})")
        print(f"info op_fail_ratio = {failed / attempted:.6g} ratio (n={attempted})")
        if a.trace:
            layer = per_layer(recs, a.workload)
            metrics = {k: {"value": layer[k], "unit": u} for k, u in declared("per_layer").items()}
            os.makedirs(".bench_traces", exist_ok=True)
            with open(os.path.join(".bench_traces", f"{a.workload}-seed{a.seed}.json"), "w") as fh:
                json.dump(spans_tree(recs, a.workload), fh)
        else:
            metrics = {k: {"value": e2e[k]["value"], "unit": u} for k, u in gated.items()}
        for r in timed:
            if r["error"]:
                print(f"error {r['tag']} {r['name']}: {r['error']}", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
