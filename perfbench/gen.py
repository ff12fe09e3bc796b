"""Seeded input generators for the benchmark.

Everything the engine reads is made here from the run's seed: the
TPC-H-style tables the batch queries scan, the traffic-signs CSV the
RainStorm console lines read, and the open-loop file schedule of the
stream workload. The tables copy the shapes, value ranges and key
distributions of the test tables described in TESTDATA.md, so every
declared query and its oracle SQL run unchanged on them.

`python3 perfbench/gen.py stream <plan.json>` is the stream generator
process: one writer thread that renames pre-built CSV files into the
watched directory on a fixed schedule, regardless of how the engine keeps up.
"""
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps between two dates (epoch micros)."""
    a = np.datetime64(start, "D").astype(np.int64)
    b = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(a, b + 1, n) * DAY_US


def _write(out, name, cols):
    # one file, one row group: every scan is one task, as in the test tables
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + k]))
        pos += k
    # 5% near-duplicates: another document's text plus a marker word, the
    # shape the dedup and clustering queries look for
    dups = rng.choice(n, n // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def tables(out, seed, sf):
    """Write the batch tables at scale factor `sf` into `out`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "FURNITURE", "BUILDING"], n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "cog"])
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_li))})
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(out, "documents", documents(rng, n_doc))
    return {"lineitem": n_li, "orders": n_ord, "events": n_ev, "documents": n_doc}


# -- traffic signs (FIXTURES.md section 1: 19 string columns, headerless) --

SIGN_TYPES = ["Streetname - Mast Arm", "Stop", "Speed Limit 30", "Yield",
              "Punched Telespar", "Curve Warning", "School Crossing", "No Parking"]
CATEGORIES = ["Warning", "Regulatory", "Streetname", "Guide", "School"]
# Warning is 30% of rows: the filter selectivity of COLUMN_FILTER:Category:Warning
CATEGORY_P = [0.30, 0.30, 0.20, 0.12, 0.08]
SIZES = ['"16"" X 42"""', '"30"" X 30"""', "24X24", "18X18"]
NOTES = [" ", "", '"near school, east side"', "replaced"]
STREETS = ["Mercury Dr", '"Main St, North"', "Oak Ave", '"Green St, ""West"""']


def traffic_lines(rng, first_id, n, due_ms):
    """`n` CSV lines with OBJECTIDs first_id.. and `due_ms` carried in
    FieldVerifiedDate, which every op of the pipeline passes through."""
    cat = rng.choice(len(CATEGORIES), n, p=CATEGORY_P)
    st = rng.integers(0, len(SIGN_TYPES), n)
    sz = rng.integers(0, len(SIZES), n)
    nt = rng.integers(0, len(NOTES), n)
    sr = rng.integers(0, len(STREETS), n)
    x = rng.uniform(-9830000.0, -9800000.0, n)
    y = rng.uniform(4870000.0, 4900000.0, n)
    out = []
    for i in range(n):
        oid = first_id + i
        out.append(f"{x[i]:.8f},{y[i]:.8f},{oid},{SIGN_TYPES[st[i]]},{SIZES[sz[i]]}, ,"
                   f"Traffic Signal Mast Arm, ,{CATEGORIES[cat[i]]},{NOTES[nt[i]]},D3-1,"
                   f"Champaign,{oid % 9973},,AERIAL,L,{STREETS[sr[i]]},1.0,{due_ms}")
    return out


def traffic_file(path, seed, n):
    rng = np.random.default_rng([seed, 2])
    with open(path, "w") as f:
        f.write("\n".join(traffic_lines(rng, 1, n, 0)) + "\n")


NOMINAL_ROWS_PER_S = 2000
LADDER_ROWS_PER_S = [6000, 12000]
BURST_FILES = 16
BURST_ROWS_PER_FILE = 15000
WARM_FILES = 1
WARM_ROWS = 3000
# files for a throwaway copy of the pipeline that runs before the measured
# query, so the JIT has compiled its hot paths by the time the schedule starts
PREWARM_FILES = 4
TICK_MS = 100


def stream_plan(seed, seconds, trigger_ms, staging, watched, first_id, ladder=True, prewarm=0):
    """Pre-build every file of one open-loop schedule in `staging`.

    Offsets are from the schedule's start t0, which run.py places 50 ms
    after a tick of the engine's trigger grid, so files never land on a
    tick. Phases, as shares of the run: the nominal rate for the first 60%,
    then (with `ladder`) two higher rates for 10% each, a quiet gap long
    enough for the engine to go idle, and at about 85% a burst of backlog
    files dropped at one instant, 100 ms before a trigger tick. Each row's
    FieldVerifiedDate holds its file's due offset in ms (-1 for the warm-up
    files the engine feeds itself before t0, and for the `prewarm` files
    of the throwaway query)."""
    rng = np.random.default_rng([seed, 3])
    run_ms = int(seconds * 1000)
    nominal_end = run_ms * 60 // 100 if ladder else run_ms
    step = run_ms * 10 // 100
    files = [("nominal", off, NOMINAL_ROWS_PER_S * TICK_MS // 1000)
             for off in range(0, nominal_end, TICK_MS)]
    burst_off = None
    if ladder:
        for k, rate in enumerate(LADDER_ROWS_PER_S):
            start = nominal_end + k * step
            files += [(f"ladder_{rate}", off, rate * TICK_MS // 1000)
                      for off in range(start, start + step, TICK_MS)]
        burst_off = (run_ms * 85 // 100) // trigger_ms * trigger_ms + trigger_ms - 150
        files += [("burst", burst_off, BURST_ROWS_PER_FILE)] * BURST_FILES
    oid = first_id

    def write(name, n, due):
        nonlocal oid
        with open(os.path.join(staging, name), "w") as f:
            f.write("\n".join(traffic_lines(rng, oid, n, due)) + "\n")
        entry = {"file": name, "rows": n, "first_id": oid, "due_off_ms": due}
        oid += n
        return entry

    prewarm_files = [write(f"prewarm-{i}.csv", WARM_ROWS, -1)["file"] for i in range(prewarm)]
    warm = [write(f"warm-{i}.csv", WARM_ROWS, -1) for i in range(WARM_FILES)]
    sched = []
    for i, (phase, off, n) in enumerate(files):
        e = write(f"part-{i:05d}.csv", n, off)
        e["phase"] = phase
        sched.append(e)
    return {"staging": staging, "watched": watched, "files": sched, "warm": warm,
            "warm_files": [w["file"] for w in warm], "prewarm_files": prewarm_files,
            "burst_off_ms": burst_off,
            "next_id": oid}


def run_writer(sched_path):
    """The generator process: rename each staged file into the watched
    directory at t0 + its due offset, and record how late each rename was."""
    plan = json.load(open(sched_path))
    t0 = plan["t0_ms"]
    log = []
    for f in plan["files"]:
        due = t0 + f["due_off_ms"]
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(plan["staging"], f["file"]),
                  os.path.join(plan["watched"], f["file"]))
        log.append(time.time() * 1000.0 - due)
    with open(sched_path + ".late.json", "w") as out:
        json.dump(log, out)


if __name__ == "__main__":
    if sys.argv[1:2] == ["stream"]:
        run_writer(sys.argv[2])
    else:
        sys.exit("usage: gen.py stream <plan.json>")
