#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the engine from source on
first use (perfbench/build.py), generates the workload's inputs from the
seed, runs the workload on one engine JVM on local[nproc], checks every
output outside the timed region, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics, and the line before carries the trace context
(spans' self times, tracing overhead, the local[1] leg, traffic facts).
Workloads and metrics are described in perfbench/DESIGN.md.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
for _need in ("build.sbt", "src/main/scala", "scripts/bit_check.py"):
    if not os.path.exists(os.path.join(ROOT, _need)):
        sys.exit(f"perfbench: {_need} not found; run from the root of a checkout of the engine")

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

NPROC = len(os.sched_getaffinity(0))

# batch_scan: zero-shuffle document and lineitem scans at sf0.1, where the
# time is per-row expression work in one scan task, plus two stateless
# RainStorm console lines over the generated traffic CSV.
SCAN_QUERIES = ["q_filter", "q_column_filter", "q_gopher", "q_doc_features", "q_urls",
                "q_pii_luhn"]
CONSOLE_LINES = {
    "console_select": "COLUMN_FILTER:Category:Warning TRANSFORM:select:OBJECTID,Sign_Type",
    "console_upper": "COLUMN_FILTER:Sign_Type:Stop TRANSFORM:uppercase",
}
SCALE_FACTOR = 0.1
TRAFFIC_ROWS = 20000
# untimed passes between the first execution of each operation and the
# timed region; until then the JIT is still compiling and passes get faster
WARM_PASSES = 10
# The host's memory speed varies from minute to minute on a shared host, and
# whole batch runs speed up or slow down with it. The engine reads it before
# every execution with a probe (a fixed random walk through 32 MB), and the
# gated batch latency is scaled to the probe's median reading on the
# development host: latency * REF_CHASE_MS / the run's median reading.
REF_CHASE_MS = 9.1
# stream_rainstorm's processing-time trigger: longer than a trigger takes at
# the nominal rate, so triggers keep to their grid. The gated latency counts
# from a row's grid tick, so the wait for the tick, set here, is not in it.
TRIGGER_MS = 1500


def pct(xs, p):
    """Percentile, interpolated between the two nearest order statistics."""
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1] if len(xs) > 1 else xs[0]


def geomean(xs):
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def engine_failed(work, why):
    """Exit with the tail of the engine's log: the work directory, log
    included, is removed when the run ends."""
    log = os.path.join(work, "engine.log")
    tail = open(log, errors="replace").read()[-4000:] if os.path.exists(log) else ""
    raise SystemExit(f"{why}\n--- engine.log, last lines ---\n{tail}")


def loadavg():
    return float(open("/proc/loadavg").read().split()[0])


def java_cmd(classpath, plan_path, tmpdir, cores):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # no hsperfdata file: the JVM would write it outside the checkout
    return (["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", classpath, "perfbench.Engine", plan_path, str(cores)])


# ---------------------------------------------------------------- batch --

def run_batch(args, work, classpath, t_setup):
    plan_path = os.path.join(work, "plan.json")
    # the engine JVM starts while the inputs are generated; it waits for the plan
    proc = subprocess.Popen(java_cmd(classpath, plan_path, work, NPROC), cwd=work,
                            stdout=open(os.path.join(work, "engine.log"), "w"),
                            stderr=subprocess.STDOUT)
    data = os.path.join(work, "data")
    sizes = gen.tables(data, args.seed, SCALE_FACTOR)
    csv = os.path.join(data, "traffic.csv")
    gen.traffic_file(csv, args.seed, TRAFFIC_ROWS)
    ops = [{"name": q, "line": None} for q in SCAN_QUERIES] + [
        {"name": k, "line": f"RAINSTORM {v} {csv} {NPROC}"} for k, v in CONSOLE_LINES.items()]
    rng = random.Random(args.seed)
    orders = []
    for _ in range(64):
        o = list(range(len(ops)))
        rng.shuffle(o)
        orders.append(o)
    plan = {"mode": "batch", "cores": NPROC, "data": data, "check_dir": os.path.join(work, "check"),
            "ops": ops, "orders": orders, "warm_passes": WARM_PASSES, "seconds": args.seconds,
            "trace": args.trace,
            "spans": os.path.join(work, "spans.jsonl"), "result": os.path.join(work, "result.json")}
    try:
        json.dump(plan, open(plan_path + ".tmp", "w"))
        os.rename(plan_path + ".tmp", plan_path)
        proc.wait(timeout=170)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        engine_failed(work, f"engine exited with {proc.returncode}")
    res = json.load(open(plan["result"]))
    setup_s = res["ready_ms"] / 1000.0 - t_setup
    t_check = time.time()
    failed, attempted, notes, expected = check.batch(res, plan, data, csv)
    execs = [e for e in res["execs"] if "error" not in e]
    by_op = {o["name"]: [e["total_ms"] for e in execs if e["name"] == o["name"]] for o in ops}
    if not all(by_op.values()):
        raise SystemExit("the timed region did not execute every operation")
    # each operation's own p50, combined by geometric mean: every operation
    # moves the gated figure by the same share of its change, whatever its
    # latency or its place in the order
    op_p50 = {k: statistics.median(v) for k, v in by_op.items()}
    op_p90 = {k: pct(v, 90) for k, v in by_op.items()}
    chase = statistics.median(e["chase_ms"] for e in res["execs"])
    e2e = {"setup_s": (setup_s, "s"),
           "latency_p50_ms": (geomean(op_p50.values()) * REF_CHASE_MS / chase, "ms")}
    complete = [p for p in res["passes"] if p["complete"]]
    pass_ms = sum(op_p50.values())
    lat = [e["total_ms"] for e in execs]
    context = {"result_rows_per_s": sum(expected.values()) / (pass_ms / 1000.0),
               "workload_inputs": sizes, "executions": len(res["execs"]),
               "complete_passes": len(complete),
               "pass_s": statistics.median(p["ms"] for p in complete) / 1000.0 if complete else None,
               "pass_s_from_op_medians": pass_ms / 1000.0, "op_p50_ms": op_p50, "op_p90_ms": op_p90,
               "op_ms": by_op, "timed_jvm": res["timed_jvm"],
               "latency_p50_unscaled_ms": geomean(op_p50.values()), "chase_ms": chase,
               "latency_p90_ms": geomean(op_p90.values()),
               "executions_p50_ms": statistics.median(lat), "executions_p90_ms": pct(lat, 90),
               "rows_per_pass": sum(expected.values()), "check_notes": notes,
               "engine_exit_s": t_check - t_setup, "check_s": time.time() - t_check,
               "session_ms": res["session_ms"], "warm_ms": {w["name"]: w["ms"] for w in res["warm"]}}
    layers = batch_layers(res, plan) if args.trace else {}
    if args.trace:
        context.update(batch_trace_context(res, plan))
    return failed, attempted, e2e, layers, context


def batch_layers(res, plan):
    cp = [c for c in res["census_passes"] if c["complete"]] or res["census_passes"]
    if not cp:
        raise SystemExit("the traced run finished no traced pass")
    execs = res["execs"]

    def per_pass(field):
        return statistics.median(sum(e.get(field, 0.0) for e in execs if e["pass"] == c["pass"])
                                 for c in cp)

    def census(part, key):
        return statistics.median(c[part][key] for c in cp)

    cpu = census("all", "cpu_ns")
    return {
        "GraftSession.session_ms": res["session_ms"],
        "ops.console_start_ms": statistics.median(res["console_start_ms"]),
        "SparkEntry.construct_ms": per_pass("construct_ms"),
        "SparkEntry.construct_jobs": census("construct", "jobs"),
        "SparkEntry.plan_ms": per_pass("tracker_plan_ms"),
        "operators.exec_ms": per_pass("exec_ms"),
        "operators.jobs": census("all", "jobs"),
        "operators.stages": census("all", "stages"),
        "operators.tasks": census("all", "tasks"),
        "operators.shuffle_write_bytes": census("all", "shuffle_write_bytes"),
        "operators.shuffle_read_bytes": census("all", "shuffle_read_bytes"),
        "operators.spill_bytes": census("all", "spill_bytes"),
        "operators.single_task_share": statistics.median(
            c["all"]["single_task_stage_ms"] / c["ms"] for c in cp),
        "functions.cpu_ns_per_row": cpu / max(1.0, census("all", "records_in")),
        "functions.cpu_share": cpu / 1e6 / max(1.0, census("all", "run_ms")),
        "sources.scan_tasks": census("all", "scan_tasks"),
        "sources.input_bytes": census("all", "input_bytes"),
    }


def self_times(spans):
    """Median self time per span name: duration minus the union of the
    intervals its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault((s["trace"], s["parent"]), []).append(s)
    out = {}
    for s in spans:
        cover, end = 0, s["start_ns"]
        for c in sorted(kids.get((s["trace"], s["name"]), []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if b > a:
                cover += b - a
                end = b
        out.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"] - cover) / 1e6)
    return {k: {"self_ms_median": statistics.median(v), "count": len(v)} for k, v in out.items()}


def batch_trace_context(res, plan):
    spans = [json.loads(l) for l in open(plan["spans"]) if l.strip()]
    # pass 0 still warms the JIT, so it is left out of the comparison
    steady = [p for p in res["passes"] if p["complete"] and p["pass"] > 0]
    traced = [p["ms"] for p in steady if p["traced"]]
    plain = [p["ms"] for p in steady if not p["traced"]]
    ctx = {"spans": spans, "tracing_callback_ms": res["callback_ms"]}
    if traced and plain:
        ctx["tracing_overhead_pass_ms"] = statistics.median(traced) - statistics.median(plain)
        ctx["tracing_overhead_share"] = ctx["tracing_overhead_pass_ms"] / statistics.median(plain)
    ctx["census_passes"] = res["census_passes"]
    if res["local1"]:
        p1 = [p["ms"] for p in res["local1"]["passes"] if p["complete"]]
        l1 = [e["total_ms"] for e in res["local1"]["execs"] if "error" not in e]
        ctx["local1"] = {"pass_s": statistics.median(p1) / 1000.0 if p1 else None,
                         "latency_p50_ms": statistics.median(l1) if l1 else None,
                         "executions": len(l1), "complete_passes": len(p1)}
    return ctx


# --------------------------------------------------------------- stream --

def run_stream(args, work, classpath, t_setup):
    staging = os.path.join(work, "staging")
    legs = {"main": "in.csv"} if not args.trace else {"main": "in.csv", "local1": "in1.csv"}
    plan = {"mode": "stream", "cores": NPROC, "shards": NPROC, "trigger_ms": TRIGGER_MS,
            "trace": args.trace, "result": os.path.join(work, "result.json")}
    for leg, d in legs.items():
        os.makedirs(os.path.join(staging, leg))
        os.makedirs(os.path.join(work, d))
        plan[leg] = {"watched": os.path.join(work, d), "staging": os.path.join(staging, leg),
                     "out": os.path.join(work, f"out_{leg}"), "ckpt": os.path.join(work, f"ckpt_{leg}"),
                     "warm_files": []}
    plan_path = os.path.join(work, "plan.json")
    proc = subprocess.Popen(java_cmd(classpath, plan_path, work, NPROC), stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=open(os.path.join(work, "engine.log"), "w"),
                            text=True, cwd=work)
    try:
        # the engine starts its JVM while the schedules are written; it waits
        # for the plan file
        scheds = {}
        first_id = 1
        for leg in legs:
            secs = args.seconds if leg == "main" else max(2.0, args.seconds / 4.0)
            s = gen.stream_plan(args.seed + (0 if leg == "main" else 7919), secs, TRIGGER_MS,
                                plan[leg]["staging"], plan[leg]["watched"], first_id,
                                ladder=(leg == "main"),
                                prewarm=gen.PREWARM_FILES if leg == "main" else 0)
            first_id = s["next_id"]
            plan[leg]["warm_files"] = s["warm_files"]
            plan[leg]["prewarm"] = {"files": s["prewarm_files"],
                                    "watched": os.path.join(work, f"prewarm_{leg}.csv"),
                                    "out": os.path.join(work, f"prewarm_out_{leg}"),
                                    "ckpt": os.path.join(work, f"prewarm_ckpt_{leg}")}
            os.makedirs(plan[leg]["prewarm"]["watched"])
            scheds[leg] = s
        tmp = plan_path + ".tmp"
        json.dump(plan, open(tmp, "w"))
        os.rename(tmp, plan_path)
        ready = {}
        for leg in legs:
            line = proc.stdout.readline()
            if not line.startswith("READY"):
                engine_failed(work, f"engine did not become ready: {line!r}")
            ready[leg] = int(line.split()[1])
            sp = os.path.join(work, f"sched_{leg}.json")
            # the engine triggers at multiples of TRIGGER_MS since the epoch;
            # lock the schedule to that grid so a row's wait for its trigger
            # depends on its offset, not on where the run happened to start
            now = time.time() * 1000.0 + 300.0
            scheds[leg]["t0_ms"] = (now // TRIGGER_MS + 1) * TRIGGER_MS + 50
            json.dump(scheds[leg], open(sp, "w"))
            subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "stream", sp],
                           check=True, timeout=120)
            scheds[leg]["late_ms"] = json.load(open(sp + ".late.json"))
            proc.stdin.write("drain\n")
            proc.stdin.flush()
        proc.wait(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        engine_failed(work, f"engine exited with {proc.returncode}")
    res = json.load(open(plan["result"]))
    setup_s = ready["main"] / 1000.0 - t_setup
    m = check.stream_leg(plan["main"], scheds["main"], NPROC, dict(res["commits"]),
                         res["progress"], TRIGGER_MS)
    failed, attempted = m["failed"], m["attempted"]
    if m["nominal_latency_ms"] == [] or m["catchup_s"] <= 0:
        raise SystemExit("no nominal rows or no burst were committed")
    e2e = {"setup_s": (setup_s, "s"),
           "latency_p50_ms": (statistics.median(m["nominal_latency_ms"]), "ms")}
    late = scheds["main"]["late_ms"]
    context = {"result_rows_per_s": m["burst_out_rows"] / m["catchup_s"],
               "latency_p90_ms": pct(m["nominal_latency_ms"], 90),
               "latency_p99_ms": pct(m["nominal_latency_ms"], 99),
               "latency_mean_ms": statistics.mean(m["nominal_latency_ms"]),
               "latency_from_due_p50_ms": statistics.median(m["nominal_from_due_ms"]),
               "latency_from_due_p90_ms": pct(m["nominal_from_due_ms"], 90),
               "latency_from_due_p99_ms": pct(m["nominal_from_due_ms"], 99),
               "wait_for_grid_ms_p50": m["nominal_wait_for_grid_ms"],
               "nominal_rows_out": len(m["nominal_latency_ms"]),
               "catchup_s": m["catchup_s"], "burst_rows_in": m["burst_in_rows"],
               "ladder": m["ladder"], "highest_ok_rate": m["highest_ok_rate"],
               "generator_late_ms_p50": statistics.median(late), "generator_late_ms_max": max(late),
               "drain_ms": res["drain_ms"]}
    layers = {}
    if args.trace:
        layers, tctx = check.stream_layers(res, plan["main"], scheds["main"])
        layers["GraftSession.session_ms"] = res["session_ms"]
        layers["ops.console_start_ms"] = res["console_start_ms"][0]
        context.update(tctx)
        if "local1" in legs:
            m1 = check.stream_leg(plan["local1"], scheds["local1"], NPROC,
                                  dict(res["local1"]["commits"]), res["local1"]["progress"],
                                  TRIGGER_MS)
            failed += m1["failed"]
            attempted += m1["attempted"]
            context["local1"] = {"latency_p50_ms": statistics.median(m1["nominal_latency_ms"])
                                 if m1["nominal_latency_ms"] else None,
                                 "nominal_rows_out": len(m1["nominal_latency_ms"])}
    return failed, attempted, e2e, layers, context


# ----------------------------------------------------------------- main --

WORKLOADS = {"batch_scan": run_batch, "stream_rainstorm": run_stream}

PER_LAYER_UNITS = {m["name"]: m["unit"]
                   for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the engine
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build.ensure()
    t_setup = time.time()
    load_start = loadavg()
    work = os.path.join(ROOT, ".bench_build", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        failed, attempted, e2e, layers, context = WORKLOADS[args.workload](args, work, classpath, t_setup)
        res = json.load(open(os.path.join(work, "result.json")))
    finally:
        # inputs, outputs and checkpoints go; the report below keeps the figures
        shutil.rmtree(work, ignore_errors=True)
    if "spans" in context:
        context["span_self_times"] = self_times(context["spans"])
    context.update({"peak_rss_mb": res["vmhwm_kb"] / 1024.0, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "nproc": NPROC, "loadavg_start": load_start, "loadavg_end": loadavg(),
                    "calibration": res["calib"]})
    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
        context["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    report = os.path.join(ROOT, ".bench_build", "reports")
    os.makedirs(report, exist_ok=True)
    with open(os.path.join(report, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"context": context, "metrics": metrics, "failed": failed,
                   "attempted": attempted}, f, indent=1)
    context.pop("spans", None)
    context.pop("op_ms", None)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
