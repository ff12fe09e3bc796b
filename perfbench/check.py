"""Output checks and trace summaries, run after the engine has exited.

Batch results are compared with each query's declared oracle SQL in
DuckDB through scripts/bit_check.py's canonical form (columns by name,
rows by canonical key, doubles by bit pattern). Console lines get the
oracle the q_console query declares, over the generated CSV. Stream
output is checked row by row: every generated row that passes the filter
is committed exactly once, and each shard's running counts are 1..n.
"""
import glob
import json
import os
import statistics
import sys
from datetime import datetime, timezone

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import bit_check  # noqa: E402

TRAFFIC_COLS = ["X", "Y", "OBJECTID", "Sign_Type", "Size_", "Supplement", "Sign_Post",
                "Year_Insta", "Category", "Notes", "MUTCD", "Ownership", "FACILITYID",
                "Schools", "Location_Adjusted", "Replacement_Zone", "Sign_Text", "Set_ID",
                "FieldVerifiedDate"]

CONSOLE_SQL = {
    "console_select": "SELECT OBJECTID, Sign_Type FROM traffic WHERE trim(Category) = 'Warning'",
    "console_upper": "SELECT " + ", ".join(f"upper({c}) AS {c}" for c in TRAFFIC_COLS)
                     + " FROM traffic WHERE trim(Sign_Type) = 'Stop'",
}


def read_traffic(con, pattern):
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in TRAFFIC_COLS)
    return con.sql(f"SELECT * FROM read_csv('{pattern}', header=false, columns={{{cols}}})")


def same_rows(con, got, oracle):
    """True when both tables have the same columns by name, with the same
    types and no floating-point column, and equal rows as multisets.
    Equal rows then have equal canonical forms, so bit_check.compare would
    pass them too; any other case goes to bit_check.compare, which decides.
    It takes 0.24 s on q_column_filter's 200,000 rows, where
    bit_check.compare takes 4 s."""
    names = oracle.column_names
    if sorted(got.column_names) != sorted(names):
        return False
    got = got.select(names)
    if any(pa.types.is_floating(t) for t in oracle.schema.types) \
            or got.schema.types != oracle.schema.types or got.num_rows != oracle.num_rows:
        return False
    con.register("got_rows", got)
    con.register("oracle_rows", oracle)
    return con.sql("SELECT count(*) FROM (SELECT * FROM got_rows EXCEPT ALL "
                   "SELECT * FROM oracle_rows)").fetchone()[0] == 0


def batch(res, plan, data, csv):
    """Returns (failed, attempted, notes, oracle row count per operation)."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    read_traffic(con, csv).create_view("traffic")
    failed, attempted, notes, expected = 0, 0, {}, {}
    warm = {w["name"]: w for w in res["warm"]}
    for op in plan["ops"]:
        name = op["name"]
        attempted += 1
        sql = res["oracle"].get(name) or CONSOLE_SQL.get(name)
        oracle = con.sql(sql).fetch_arrow_table()
        expected[name] = oracle.num_rows
        if "error" in warm[name]:
            failed += 1
            notes[name] = warm[name]["error"]
            continue
        got = ds.dataset(os.path.join(plan["check_dir"], name), format="parquet").to_table()
        # bit_check.main fails decimal output columns before it compares
        if any("decimal" in str(f.type) for f in got.schema):
            ok, msg = False, "decimal output columns"
        elif same_rows(con, got, oracle):
            ok, msg = True, f"MATCH ({oracle.num_rows} rows, equal as multisets)"
        else:
            ok, msg = bit_check.compare(name, got, oracle)
        notes[name] = msg
        failed += 0 if ok else 1
    execs = (res["warm_execs"] + res["execs"]
             + (res["local1"].get("execs", []) if res["local1"] else []))
    for e in execs:
        attempted += 1
        if "error" in e or e["rows"] != expected[e["name"]]:
            failed += 1
            notes.setdefault("execution_failures", []).append(
                {k: e.get(k) for k in ("name", "pass", "rows", "error")})
    return failed, attempted, notes, expected


# -------------------------------------------------------------- streams --

def java_hash(s):
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h - (1 << 32) if h >= 1 << 31 else h


def log_entries(log_dir):
    """{path: (batch id, size)} from a Spark metadata log, where a path
    belongs to the first batch file (plain or .compact) listing it."""
    files = []
    for f in os.listdir(log_dir):
        if f.startswith(".") or f.endswith(".tmp"):
            continue
        files.append((int(f.split(".")[0]), f))
    seen = {}
    for batch_id, f in sorted(files):
        for line in open(os.path.join(log_dir, f)).read().splitlines()[1:]:
            e = json.loads(line)
            if e["path"] not in seen:
                seen[e["path"]] = (batch_id, e.get("size", 0))
    return seen


def strip_scheme(p):
    return p[len("file:"):] if p.startswith("file:") else p


def stream_leg(leg, sched, nproc, commits, progress, trigger_ms):
    """Check one leg's committed output and time every row against the
    schedule. `commits` maps batch id to the engine's commit time (epoch
    ms); `progress` is the leg's StreamingQueryProgress list.

    Two latencies per row. From due: commit of its sink batch - its due
    time, which includes the wait for the trigger grid the benchmark sets.
    Engine: commit - the first grid tick at or after the row's arrival (the
    rename: due time plus the generator's lateness), so the wait for the
    tick is left out and any stall past it is counted. When Spark starts a
    trigger off the grid, right after one that overran, rows it reads that
    arrived after the last tick count from that trigger's start instead."""
    sink = log_entries(os.path.join(leg["out"], "_spark_metadata"))
    start = {p["batchId"]: epoch_ms(p["timestamp"]) for p in progress}
    oid, x, due, cnt, commit, starts = [], [], [], [], [], []
    for path, (batch, _) in sink.items():
        t = pq.read_table(strip_scheme(path),
                          columns=["OBJECTID", "X", "FieldVerifiedDate", "running_count"])
        oid += [int(v) for v in t.column("OBJECTID").to_pylist()]
        x += t.column("X").to_pylist()
        due += [int(v) for v in t.column("FieldVerifiedDate").to_pylist()]
        cnt += t.column("running_count").to_pylist()
        commit += [commits[batch]] * t.num_rows
        starts += [start[batch]] * t.num_rows
    con = duckdb.connect()
    exp = read_traffic(con, os.path.join(leg["watched"], "*.csv")) \
        .filter("trim(Category) = 'Warning'").select("OBJECTID").fetchall()
    expected = {int(r[0]) for r in exp}
    got = set(oid)
    generated = sum(f["rows"] for f in sched["files"] + sched["warm"])
    staged_left = len(os.listdir(leg["staging"]))
    failed = (len(oid) - len(got)) + len(expected - got) + len(got - expected) + staged_left
    shards = {}
    for xi, c in zip(x, cnt):
        shards.setdefault(java_hash(xi) % nproc, []).append(c)
    for cs in shards.values():
        failed += sum(1 for a, b in zip(sorted(cs), range(1, len(cs) + 1)) if a != b)
    t0 = sched["t0_ms"]
    commit_a = np.array(commit)
    lat = commit_a - (t0 + np.array(due, dtype=np.float64))
    firsts = np.array([f["first_id"] for f in sched["files"]])
    phase_of = np.array([f["phase"] for f in sched["files"]])
    arrival_of = t0 + np.array([f["due_off_ms"] for f in sched["files"]], dtype=np.float64) \
        + np.array(sched["late_ms"])
    oid_a, due_a = np.array(oid), np.array(due)
    timed = due_a >= 0
    phases = np.full(len(oid), "warm", dtype=object)
    file_idx = np.searchsorted(firsts, oid_a[timed], side="right") - 1
    phases[timed] = phase_of[file_idx]
    ref = np.zeros(len(oid))
    ref[timed] = np.minimum(np.ceil(arrival_of[file_idx] / trigger_ms) * trigger_ms,
                            np.array(starts)[timed])
    nominal = phases == "nominal"
    out = {"failed": int(failed), "attempted": generated,
           "nominal_latency_ms": sorted((commit_a - ref)[nominal].tolist()),
           "nominal_from_due_ms": sorted(lat[nominal].tolist()),
           "nominal_wait_for_grid_ms": float(np.median((lat - (commit_a - ref))[nominal]))
           if nominal.any() else None,
           "ladder": {}, "highest_ok_rate": None}
    rates = [("nominal", None)] + [(p, int(p.split("_")[1])) for p in dict.fromkeys(phase_of)
                                   if p.startswith("ladder_")]
    ok_rate = None
    for p, rate in rates:
        sel = phases == p
        if not sel.any():
            continue
        order = np.argsort(due_a[sel])
        ls = lat[sel][order]
        third = max(1, len(ls) // 3)
        growth = float(np.median(ls[-third:]) - np.median(ls[:third]))
        p99 = float(np.percentile(ls, 99))
        span = float(due_a[sel].max() - due_a[sel].min()) or 1.0
        growing = growth > 0.5 * span
        rate = rate or sched_rate(sched, p)
        out["ladder"][p] = {"rate_rows_per_s": rate, "p99_ms": p99, "growth_ms": growth,
                            "growing_backlog": growing}
        if p99 < 5000 and not growing:
            ok_rate = max(ok_rate or 0, rate)
    out["highest_ok_rate"] = ok_rate
    if sched["burst_off_ms"] is not None:
        sel = phases == "burst"
        out["burst_out_rows"] = int(sel.sum())
        out["burst_in_rows"] = sum(f["rows"] for f in sched["files"] if f["phase"] == "burst")
        out["catchup_s"] = float(lat[sel].max()) / 1000.0 if sel.any() else 0.0
    return out


def sched_rate(sched, phase):
    fs = [f for f in sched["files"] if f["phase"] == phase]
    span = (fs[-1]["due_off_ms"] - fs[0]["due_off_ms"]) + 100
    return sum(f["rows"] for f in fs) * 1000 // span


def epoch_ms(iso):
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1000.0


PHASES = [("latestOffset", "streaming.latest_offset_ms"), ("walCommit", "streaming.wal_commit_ms"),
          ("getBatch", "streaming.get_batch_ms"), ("queryPlanning", "streaming.planning_ms"),
          ("addBatch", "streaming.add_batch_ms"), ("commitOffsets", "streaming.commit_offsets_ms")]


def stream_layers(res, leg, sched):
    """Per-layer metrics of the timed triggers, from StreamingQueryProgress,
    the census per micro-batch, and the source and sink logs. Each trigger
    becomes a span with one child per phase, laid out in execution order."""
    t0 = sched["t0_ms"]
    prog = [p for p in res["progress"] if p["numInputRows"] > 0
            and epoch_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"] > t0]
    if not prog:
        raise SystemExit("the traced run committed no timed trigger")
    med = statistics.median
    dur = lambda k: med(p["durationMs"].get(k, 0) for p in prog)  # noqa: E731
    starts = [epoch_ms(p["timestamp"]) for p in prog]
    idle = [max(0.0, starts[i + 1] - starts[i] - prog[i]["durationMs"]["triggerExecution"])
            for i in range(len(prog) - 1)] or [0.0]
    state = [p.get("stateOperators", []) for p in prog]
    layers = {"streaming.trigger_ms": dur("triggerExecution"),
              "streaming.idle_ms": med(idle),
              "streaming.rows_per_trigger": med(p["numInputRows"] for p in prog),
              "streaming.state_rows_total": max(sum(s["numRowsTotal"] for s in ss) for ss in state),
              "streaming.state_memory_bytes": max(sum(s["memoryUsedBytes"] for s in ss) for ss in state),
              "streaming.state_commit_ms": med(sum(s.get("commitTimeMs", 0) for s in ss) for ss in state),
              "streaming.rows_dropped_by_watermark": sum(
                  s.get("numRowsDroppedByWatermark", 0) for ss in state for s in ss)}
    for k, name in PHASES:
        layers[name] = dur(k)
    ids = {p["batchId"] for p in prog}
    census = [c for c in res["census_batches"] if c["batch"] in ids]
    tot = lambda k: sum(c[k] for c in census)  # noqa: E731
    permed = lambda k: med(c[k] for c in census) if census else 0.0  # noqa: E731
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        layers[f"operators.{k}"] = permed(k)
    layers["operators.single_task_share"] = tot("single_task_stage_ms") / sum(
        p["durationMs"]["triggerExecution"] for p in prog)
    layers["functions.cpu_ns_per_row"] = tot("cpu_ns") / max(1.0, tot("records_in"))
    layers["functions.cpu_share"] = tot("cpu_ns") / 1e6 / max(1.0, tot("run_ms"))
    layers["sources.scan_tasks"] = permed("scan_tasks")
    layers["sources.input_bytes"] = permed("input_bytes")
    # which trigger read each file, from the source's own log
    src = log_entries(os.path.join(leg["ckpt"], "sources", "0"))
    start_of = {p["batchId"]: s for p, s in zip(prog, starts)}
    due_of = {f["file"]: t0 + f["due_off_ms"] for f in sched["files"] if f["phase"] == "nominal"}
    lag, per_batch = [], {}
    for path, (b, _) in src.items():
        per_batch[b] = per_batch.get(b, 0) + 1
        name = os.path.basename(strip_scheme(path))
        if name in due_of and b in start_of:
            lag.append(start_of[b] - due_of[name])
    layers["sources.input_lag_ms"] = med(lag) if lag else 0.0
    layers["sources.files_per_trigger"] = med(per_batch.get(b, 0) for b in ids)
    sink_bytes = {}
    for b, size in log_entries(os.path.join(leg["out"], "_spark_metadata")).values():
        sink_bytes[b] = sink_bytes.get(b, 0) + size
    layers["sources.sink_bytes"] = med(sink_bytes.get(b, 0) for b in ids)
    spans = []
    for p, s in zip(prog, starts):
        tid = str(p["batchId"])
        spans.append({"trace": tid, "name": "trigger", "parent": "", "start_ns": s * 1e6,
                      "end_ns": (s + p["durationMs"]["triggerExecution"]) * 1e6})
        at = s
        for k, _ in PHASES:
            d = p["durationMs"].get(k, 0)
            spans.append({"trace": tid, "name": k, "parent": "trigger", "start_ns": at * 1e6,
                          "end_ns": (at + d) * 1e6})
            at += d
    ctx = {"timed_triggers": len(prog), "spans": spans,
           "tracing_callback_ms": res["callback_ms"],
           "tracing_overhead_share": res["callback_ms"] / sum(
               p["durationMs"]["triggerExecution"] for p in prog)}
    return layers, ctx
