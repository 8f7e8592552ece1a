"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload task_small_files --seed 1 --seconds 10 --trace 0

Builds the program if needed, generates the workload's inputs from the
seed, runs them through one local Spark JVM, checks every output, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 0 gives the end-to-end metrics, --trace 1 the per-layer ones
(a separate run with spans and listeners on). Details of each run (every
pass, the host stamp, failed operations, and for traced runs the span
dump and self-time table) land in .bench_build/results/. README.md in
this directory describes the metrics and workloads.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
SETUPS = 3
WARMUPS = 1
JVM_LIMIT_S = 165
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = {"setup_s": "s", "wall_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
              "op_p90_s": "s", "in_rows_per_s": "rows/s", "ok_ratio": "1",
              "heap_live_mb": "MB"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def generate(w, seed, out):
    """Write the workload's inputs; return {table or 'raw': rows}."""
    if w["kind"] == "tasks":
        nlat, nlon = w["grid"]
        return {"raw": gen.grid(seed, out, nlat, nlon, workloads.START, w["days"])}
    return gen.tables(seed, out)


def task_rows(task, cells):
    """Input rows a task slice covers: one per cell per hour in [start, end)."""
    h = gen.US_PER_HOUR
    return cells * ((task["end_us"] + h - 1) // h - (task["start_us"] + h - 1) // h)


def run_jvm(cp, spec_path, log_path, tmp, limit_s):
    # local[cpus] already keeps every core busy; two JIT compiler threads
    # and few GC threads keep the JVM's own background work from crowding
    # Spark's task threads and the submitting thread
    cmd = ["java", *JAVA_OPENS, "-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2",
           "-XX:ConcGCThreads=1", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC", "-cp", os.pathsep.join(cp), "graftbench.Runner", spec_path]
    with open(log_path, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"runner exceeded {limit_s:.0f} s")
    if code != 0:
        with open(log_path) as f:
            tail = "".join(line for line in f.readlines()[-30:])
        raise RuntimeError(f"runner exited with {code}:\n{tail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    w = workloads.WORKLOADS[args.workload]
    try:
        cp = build.build(ROOT)
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    t_start = time.monotonic()

    host0 = stats.host_state()
    run_dir = f"{ROOT}/.bench_build/run/{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        gen_s, inputs, rows = [], [], {}
        for r in range(SETUPS):
            t0 = time.monotonic()
            d = f"{run_dir}/input{r}"
            rows = generate(w, args.seed, d)
            gen_s.append(time.monotonic() - t0)
            inputs.append(d)
        spec = {"workload": args.workload, "kind": w["kind"],
                "cpus": host0["cpus"], "warmups": WARMUPS,
                "passes": workloads.passes(w, args.seconds),
                "trace": bool(args.trace),
                "inputs": inputs, "work": f"{run_dir}/work", "result": f"{run_dir}/result.json",
                **workloads.spec(args.workload, args.seed)}
        with open(f"{run_dir}/spec.json", "w") as f:
            json.dump(spec, f)
        t_jvm = time.monotonic()
        os.makedirs(f"{run_dir}/tmp")
        run_jvm(cp, f"{run_dir}/spec.json", f"{run_dir}/runner.log", f"{run_dir}/tmp",
                JVM_LIMIT_S - (t_jvm - t_start))
        with open(f"{run_dir}/result.json") as f:
            res = json.load(f)
        res["cpus"] = spec["cpus"]
        res["spans"] = stats.assign_parents(res["spans"])
        t_check = time.monotonic()
        outcome = evaluate(args, w, res, rows, gen_s, inputs[-1], run_dir)
        outcome["phases_s"] = {"generate": sum(gen_s), "runner": t_check - t_jvm,
                               "check": time.monotonic() - t_check}
        host1 = stats.host_state()
        outcome["host"] = {
            "cpus": host0["cpus"], "load1_start": host0["load1"], "load1_end": host1["load1"],
            "steal_jiffies": (host1["steal_jiffies"] - host0["steal_jiffies"])
            if host0["steal_jiffies"] is not None else None,
            "gc_s": res["gc_total_s"]}
        write_details(args, outcome, res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("host " + json.dumps(outcome["host"]))
    print(json.dumps({k: outcome[k] for k in ("correct", "attempted", "failed", "metrics")}))


def evaluate(args, w, res, rows, gen_s, input_dir, run_dir):
    """Check outputs, then reduce the runner's record to metrics."""
    passes = res["passes"]
    con = check.connect(f"{run_dir}/tmp")
    failures = {}
    if w["kind"] == "tasks":
        tasks = passes[0]["tasks"]
        plans_agree = all(p["tasks"] == tasks for p in passes)
        results, n_exp = check.check_tasks(con, input_dir, tasks, [p["root"] for p in passes])
        wrong_rows = sum(wr for _, wr in results)
        correct = plans_agree and wrong_rows == 0 and all(n_exp.get(t["id"], 0) > 0 for t in tasks)
        nlat, nlon = w["grid"]
        op_rows = {t["id"]: task_rows(t, nlat * nlon) for t in tasks}
        for p, (reasons, _) in zip(passes, results):
            for op in p["ops"]:
                why = op["err"] or reasons.get(op["id"], "not checked")
                op["ok"] = op["ok"] and not why
                if why:
                    failures.setdefault(op["id"], why)
    else:
        qs = res["queries"]
        reasons = check.check_queries(con, input_dir, f"{run_dir}/work/check", qs, list(rows))
        correct = all(o["ok"] for o in res["warm"][0]["ops"]) and not any(reasons.values())
        op_rows = {q["name"]: sum(rows[t] for t in check.tables_of(q["oracle"], rows))
                   for q in qs}
        for p in passes:
            for op in p["ops"]:
                why = op["err"] or reasons.get(op["id"], "")
                op["ok"] = op["ok"] and not why
                if why:
                    failures.setdefault(op["id"], why)
    con.close()

    measured = [p for p in passes if not p["traced"]] if not args.trace else \
        [p for p in passes if p["traced"]]
    ops = [o for p in measured for o in p["ops"]]
    attempted, failed = len(ops), sum(not o["ok"] for o in ops)
    setup = [g + s["session_s"] for g, s in zip(gen_s, res["setup"])]
    walls = [p["wall_s"] for p in measured]
    out = {"correct": bool(correct), "attempted": attempted, "failed": failed,
           "failures": failures, "setup_reps_s": setup, "warmup_s": res["warm_s"]}
    if args.trace:
        out["metrics"] = layer_metrics(res, passes)
        return out
    total_wall = sum(walls)
    lat = [o["s"] for o in ops]
    m = {
        # repeatable set-up (generation, session start, input scan) as a
        # median over the repetitions, plus the warm-up passes
        "setup_s": stats.median(setup) + res["warm_s"],
        "wall_s": stats.median(walls),
        "ops_per_s": attempted / total_wall,
        "op_p50_s": stats.median(lat),
        "op_p90_s": stats.percentile(lat, 90),
        "in_rows_per_s": sum(op_rows[o["id"]] for o in ops) / total_wall,
        "ok_ratio": (attempted - failed) / attempted,
        "heap_live_mb": stats.median([p["heap_mb"] for p in measured]),
    }
    out["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}
    out["samples"] = {"passes": len(measured), "ops": attempted}
    return out


def layer_metrics(res, passes):
    """Per-layer metrics: medians over the traced passes of per-pass
    values, plus the tracing overhead against the untraced passes."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    spans = res["spans"]
    by_pass = []
    for p in traced:
        names = {f"{p['index']}:{o['id']}" for o in p["ops"]}
        ps = [s for s in spans if s["op"] in names]
        def span_s(name, root_only=False):
            return sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in ps if s["name"] == name
                       and (not root_only or s["attrs"].get("root", True)))
        io = [s for s in ps if s["name"] == "io.write" and s["attrs"].get("root")]
        st = [s for s in ps if s["name"] == "io.status" and s["attrs"].get("root")]
        rows_w = sum(s["attrs"]["rows"] for s in io)
        c = p["counters"]
        n_ops = len(p["ops"])
        fam = lambda f: sum(o["s"] for o in p["ops"] if o["family"] == f)
        by_pass.append({
            "catalog.resolve_s": (p.get("resolve_s", 0.0), "s"),
            "plans.plan_s": (p.get("plan_s", 0.0), "s"),
            "plans.files_planned": (p.get("files_planned", 0), "count"),
            "pipeline.run_s": (span_s("pipeline.run"), "s"),
            "pipeline.frame_s": (span_s("pipeline.frame"), "s"),
            "io.write_s": (span_s("io.write", True), "s"),
            "io.status_s": (span_s("io.status", True), "s"),
            "io.files_written": (sum(s["attrs"]["files"] for s in io), "count"),
            "io.status_files": (sum(s["attrs"]["files"] for s in st), "count"),
            "io.bytes_written": (sum(s["attrs"]["bytes"] for s in io), "bytes"),
            "io.bytes_per_row": (sum(s["attrs"]["bytes"] for s in io) / rows_w
                                 if rows_w else 0.0, "bytes"),
            "engine.jobs_per_op": (c["jobs"] / n_ops, "count"),
            "engine.stages": (c["stages"], "count"),
            "engine.tasks": (c["tasks"], "count"),
            "engine.codegen_s": (p["codegen_s"], "s"),
            "engine.codegen_classes": (p["codegen_n"], "count"),
            "engine.plan_s": (sum(s["attrs"]["plan_ms"] for s in ps if s["name"] in (
                "io.write", "io.status", "engine.sql") and s["attrs"].get("root")) / 1e3, "s"),
            "engine.task_s": (c["task_ms"] / 1e3, "s"),
            "engine.busy_ratio": (c["task_ms"] / 1e3 / (p["wall_s"] * res["cpus"]), "1"),
            "engine.input_rows": (c["input_rows"], "rows"),
            "engine.shuffle_write_mb": (c["shuffle_write"] / 2**20, "MB"),
            "engine.shuffle_read_mb": (c["shuffle_read"] / 2**20, "MB"),
            "engine.spill_mb": (c["spill"] / 2**20, "MB"),
            "engine.gc_s": (p["gc_s"], "s"),
            "iterate.cuts": (sum(o["cuts"] for o in p["ops"]), "count"),
            "iterate.cut_mb": (sum(o["cut_bytes"] for o in p["ops"]) / 2**20, "MB"),
            "queries.paper_ops_s": (fam("paper"), "s"),
            "queries.other_ops_s": (fam("other"), "s"),
            "queries.suspect_ops_s": (fam("suspect"), "s"),
            "queries.loops_s": (fam("loop"), "s"),
        })
    out = {k: {"value": stats.median([b[k][0] for b in by_pass]), "unit": u}
           for k, (_, u) in by_pass[0].items()}
    overhead = stats.median([p["wall_s"] for p in traced]) - stats.median(
        [p["wall_s"] for p in plain])
    out["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    return out


def write_details(args, outcome, res):
    d = f"{ROOT}/.bench_build/results"
    os.makedirs(d, exist_ok=True)
    stem = f"{d}/{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = dict(outcome)
    detail["passes"] = [{k: v for k, v in p.items() if k != "tasks"} for p in res["passes"]]
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.jsonl", "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(s) + "\n")
        with open(stem + ".selftime.txt", "w") as f:
            f.write(f"{'span':<20} {'count':>7} {'total_s':>10} {'self_s':>10}\n")
            for name, n, tot, slf in stats.self_time_table(res["spans"]):
                f.write(f"{name:<20} {n:>7} {tot:>10.3f} {slf:>10.3f}\n")
    log(f"details: {stem}.json")


if __name__ == "__main__":
    try:
        main()
    except RuntimeError as e:
        sys.exit(f"benchmark failed: {e}")
