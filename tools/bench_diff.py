#!/usr/bin/env python3
"""Offline differ for two bench artifacts: did the plan change, or only the box?

Usage: python3 tools/bench_diff.py <before.json> <after.json>

Takes either two `graft.Bench` detail files (BENCH_DETAIL.json: per-query
rep seconds and shuffle-byte vectors) or two benchmark artifacts
(perfbench/out/<workload>-seed<n>-trace<t>.json: counter vector, per-query
job counts and per-layer seconds). Counters are deterministic for a given
plan, so a counter that moved means the physical work changed; a time
that moved while every counter of its row held means the box did.

Byte vectors compare only between runs of the same query list in the same
order: range-partition bounds are sampled with a seed derived from the
RDD id, so a query's shuffle bytes depend on what the process ran before
it. The differ warns when the two lists (or workload, seed and trace mode)
differ.
"""
import argparse
import json
import statistics
import sys

# relative change above which a row's time counts as moved
TIME_THRESHOLD = 0.10


def load(path):
    with open(path) as f:
        d = json.load(f)
    if "shuffle_bytes" in d and "reps" in d:
        return "bench", d
    if "per_layer_detail" in d and "metrics" in d:
        return "perfbench", d
    sys.exit(f"{path}: neither a BENCH_DETAIL.json nor a perfbench artifact")


def bench_rows(d):
    """query -> (median seconds, {counter: value})."""
    return {q: (statistics.median(reps), {"shuffle_bytes": tuple(d["shuffle_bytes"].get(q, []))})
            for q, reps in d["reps"].items()}


def perfbench_rows(d):
    """row -> (seconds or None, {counter: value}); one row per BI query plus 'run'."""
    m = {k: v["value"] for k, v in d["metrics"].items()}
    rows = {"run": (None, dict(d["per_layer_detail"]["counter_vector"]))}
    for k, v in m.items():
        if k.startswith("bi.") and k.endswith(".jobs"):
            q = k[len("bi."):-len(".jobs")]
            rows[q] = (m.get(f"bi.{q}.s"), {"jobs": v})
    for k, v in m.items():
        if d["metrics"][k]["unit"] == "s" and not k.startswith("bi."):
            rows[k] = (v, {})
    return rows


def order_of(kind, d):
    if kind == "bench":
        return list(d["reps"])
    return [o["name"] for o in d.get("timed_ops", [])]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    (ka, da), (kb, db) = load(a.before), load(a.after)
    if ka != kb:
        sys.exit(f"cannot compare a {ka} artifact with a {kb} one")
    if ka == "perfbench":
        same = {k: (da.get(k), db.get(k)) for k in ("workload", "seed", "trace")}
        diff = {k: v for k, v in same.items() if v[0] != v[1]}
        if diff:
            print(f"WARNING: runs differ in {diff}; counters compare only between equal runs")
    if order_of(ka, da) != order_of(kb, db):
        print("WARNING: the two runs ran different query lists or orders; "
              "shuffle-byte vectors are not comparable across them")
    ra, rb = (bench_rows(da), bench_rows(db)) if ka == "bench" else (perfbench_rows(da), perfbench_rows(db))
    moved, time_only, uncounted, same = [], [], [], []
    for row in sorted(set(ra) | set(rb)):
        if row not in ra or row not in rb:
            print(f"  {row}: only in {'after' if row in rb else 'before'}")
            continue
        (ta, ca), (tb, cb) = ra[row], rb[row]
        changed = {k: (ca.get(k), cb.get(k)) for k in set(ca) | set(cb) if ca.get(k) != cb.get(k)}
        dt = (tb - ta) / ta if ta and tb is not None else 0.0
        if changed:
            moved.append((row, changed, ta, tb))
        elif abs(dt) > TIME_THRESHOLD:
            (time_only if ca or cb else uncounted).append((row, ta, tb, dt))
        else:
            same.append(row)

    def fmt_t(t):
        return "-" if t is None else f"{t:.3f}s"

    print(f"counters moved ({len(moved)}): the plan or the data changed")
    for row, changed, ta, tb in moved:
        cs = "; ".join(f"{k} {short(v0)} -> {short(v1)}" for k, (v0, v1) in sorted(changed.items()))
        print(f"  {row}: {cs}   time {fmt_t(ta)} -> {fmt_t(tb)}")
    print(f"time only ({len(time_only)}): counters equal, so the box, not the plan")
    for row, ta, tb, dt in time_only:
        print(f"  {row}: {fmt_t(ta)} -> {fmt_t(tb)} ({dt:+.1%})")
    if uncounted:
        print(f"time moved, no counters of their own ({len(uncounted)}): "
              "the 'run' row's counters say whether the plan changed")
        for row, ta, tb, dt in uncounted:
            print(f"  {row}: {fmt_t(ta)} -> {fmt_t(tb)} ({dt:+.1%})")
    print(f"unchanged: {len(same)} rows")


def short(v):
    if isinstance(v, tuple):
        return "[" + ",".join(str(x) for x in v) + "]"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


if __name__ == "__main__":
    main()
