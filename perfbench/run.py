#!/usr/bin/env python3
"""Benchmark runner for the graft engine: two seeded workloads, timed end
to end (``--trace 0``) or layer by layer (``--trace 1``).

    python3 perfbench/run.py --workload etl_daily_batches --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 8      # every workload, both modes
    python3 perfbench/run.py --selfcheck --workload read_and_curate --seed 1

The first run builds the harness and the engine from source with sbt
(``perfbench/build.sbt``); later runs start the JVM directly. The query
tables and the corpus are the engine's parquet fixtures, copied under
``perfbench/fixtures/``; the seed drives the ETL data, the query order
and the planted duplicates. Every run checks the workload's outputs,
prints each metric by name and unit, writes the full artifact to
``perfbench/out/`` and prints one JSON object as its last line. See
perfbench/README.md.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
FIXTURES = os.path.join(HERE, "fixtures")
WORKLOADS = ["etl_daily_batches", "read_and_curate"]
JVM_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# per-query metrics of the BI mix (ordering-heavy queries set its tail)
BI_MIX = [
    "q01_kpi_topk_spend", "q07_pricing_summary", "q08_daily_avg", "q19_window_rank",
    "q117_window_stats", "q21_rollup", "q22_join_agg", "q51_ship_priority",
    "q27_json_extract", "q29_distinct_agg", "q44_sketches", "q92_winsorized",
    "q95_dod_change", "q96_ntile", "q100_mad",
]

# span name -> per-layer self-time metric
SPAN_METRICS = {
    "catalog.append": "catalog.append_s", "catalog.read_where": "catalog.read_where_s",
    "catalog.compact": "catalog.compact_s", "catalog.vacuum": "catalog.vacuum_s",
    "sources.read_csv": "sources.read_csv_s", "transform.kpi": "transform.kpi_s",
    "analytics.report": "analytics.report_s", "ingest.new_rows": "ingest.new_rows_s",
    "dedup.exact": "dedup.exact_s", "dedup.minhash_verified": "dedup.minhash_verified_s",
    "dedup.quality_reps": "dedup.quality_reps_s", "ops.components": "ops.components_s",
    "text.quality": "text.quality_s", "similarity.semdedup": "similarity.semdedup_s",
}
# values a pass reports itself (catalog state, input ratios)
PASS_VALUES = ["catalog.live_files", "catalog.manifest_bytes", "catalog.files_read_per_report",
               "catalog.bytes_written_per_row", "ingest.new_row_ratio", "etl.stored_bytes_per_row"]
CHECK_VALUES = ["dedup.verified_pairs", "dedup.removed_docs"]
# the deterministic counter vector: equal code and seed must repeat it exactly
COUNTERS = ["spark.jobs", "spark.tasks", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
            "spark.input_bytes", "catalog.live_files", "catalog.manifest_bytes",
            "dedup.candidate_pairs", "dedup.verified_pairs"]
# layers whose self time the acceptance shares are about
CURATION_LAYERS = {"dedup", "ops", "text", "similarity"}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s"}
# every --trace 1 metric with its unit; workloads a layer does not touch report 0
PER_LAYER = {
    **{f"spark.{k}": "count" for k in ["jobs", "stages", "tasks", "task_failures"]},
    **{f"spark.{k}": "s" for k in ["driver_gap_s", "task_busy_s", "gc_s"]},
    "spark.core_util": "ratio",
    **{f"spark.{k}": "bytes" for k in ["peak_exec_mem_bytes", "shuffle_write_bytes",
                                       "shuffle_read_bytes", "spill_bytes", "input_bytes"]},
    **{f"plan.{k}_s": "s" for k in ["analysis", "optimization", "planning"]},
    **{m: "s" for m in SPAN_METRICS.values()},
    "catalog.live_files": "count", "catalog.manifest_bytes": "bytes",
    "catalog.files_read_per_report": "count", "catalog.bytes_written_per_row": "bytes",
    "ingest.new_row_ratio": "ratio", "etl.stored_bytes_per_row": "bytes",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.pair_yield": "ratio", "dedup.removed_docs": "count",
    "share.catalog": "ratio", "share.curation": "ratio", "share.gap_plan": "ratio",
    "trace.overhead_frac": "ratio",
    **{f"bi.{q}.{k}": u for q in BI_MIX for k, u in (("s", "s"), ("jobs", "count"))},
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the engine and the harness (sbt), unless already up to date."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build takes Spark's jars from $SPARK_HOME/jars")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(TARGET, exist_ok=True)
    sources = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(sources):
            return
        if os.path.exists(CLASSPATH):
            os.remove(CLASSPATH)
        log_path = os.path.join(TARGET, "build.log")
        with open(log_path, "w") as log:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "writeClasspath"],
                cwd=HERE, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(CLASSPATH):
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            fail("build failed", 3)


# ------------------------------------------------------------------ run

def cpu_times():
    """The aggregate CPU line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks (empty if absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def run_jvm(workload, seed, seconds, trace, work):
    """Run the harness JVM in `work`, wait for it and return its result."""
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--fixtures", FIXTURES,
            "--cores", str(cores), "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as log:
            sys.stderr.write("".join(l for l in log.readlines() if "WARN" not in l)[-6000:])
        fail(f"{workload}: JVM run failed ({rc})", 4)
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks

def bi_oracle_checks(work):
    """Each query's output against DuckDB running its oracle SQL over the
    same fixture tables, canonicalized the way tools/check.py does."""
    import duckdb
    import pandas as pd

    data, outs = os.path.join(FIXTURES, "sf0.01"), os.path.join(work, "bi_out")
    con = duckdb.connect()
    for name in sorted(os.listdir(data)):
        if name.endswith(".parquet"):
            path = os.path.join(data, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(outs, "oracle_sql.json")) as f:
        oracles = json.load(f)

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            t = str(df[c].dtype)
            if t.startswith("datetime") or t == "object":
                df[c] = df[c].astype(str)
            elif "float" in t:
                df[c] = df[c].round(9)
            else:
                try:
                    df[c] = df[c].astype("int64")
                except Exception:
                    df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    checks = []
    for q in BI_MIX:
        qdir = os.path.join(outs, q)
        files = [os.path.join(qdir, f) for f in sorted(os.listdir(qdir))
                 if f.endswith(".parquet")] if os.path.isdir(qdir) else []
        if not files:
            checks.append({"name": f"bi.{q}", "ok": False, "detail": "no output"})
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        want = canon(con.execute(oracles[q]).df())
        ok = list(got.columns) == list(want.columns) and len(got) == len(want) and got.equals(want)
        checks.append({"name": f"bi.{q}", "ok": bool(ok) and len(got) > 0,
                       "detail": f"{len(got)} rows vs oracle {len(want)}"})
    return checks


# ------------------------------------------------------------------ metrics

def tail(values):
    """90th percentile, linearly interpolated. A run has 6 to 40 operations,
    too few for a percentile with ten samples beyond it; the p90 still
    falls on the slow class (compaction batches, ordering queries and the
    text curation)."""
    s = sorted(values)
    x = 0.9 * (len(s) - 1)
    lo = int(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def end_to_end(res):
    """The contract's metrics. The median is over the foreground operations
    (every ETL batch; the queries of the read workload, whose two curation
    operations are few and far slower); the tail and the rate take every
    operation. Samples pool every timed pass of the run."""
    ops = [o for o in res["timed_ops"] if o["ok"]]
    lat = [o["s"] for o in ops]
    fg = [o["s"] for o in ops if not o["name"].startswith("curate.")]
    loop = res["loop_s"]
    m = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "op_p50_s": (statistics.median(fg), "s"),
        "op_tail_s": (tail(lat), "s"),
        "ops_per_s": (len(lat) / loop, "1/s"),
    }
    res["latency_samples_s"] = lat
    wl = res["workload"]
    named = {}
    if wl == "etl_daily_batches":
        landed = res["context"]["input"]["rows"] * len(res["pass_s"])
        named = {"etl.batch_p50_s": m["op_p50_s"], "etl.batch_tail_s": m["op_tail_s"],
                 "etl.rows_per_s": (landed / loop, "1/s"),
                 "etl.stored_bytes_per_row": (res["layers"][-1]["etl.stored_bytes_per_row"], "bytes"),
                 "etl.stored_bytes": (res["layers"][-1]["etl.stored_bytes"], "bytes"),
                 "etl.staging_rows": (res["layers"][-1]["etl.staging_rows"], "rows")}
    else:
        queries = [o["s"] for o in ops if o["name"] in BI_MIX]
        text = [o["s"] for o in ops if o["name"] == "curate.text"]
        docs = res["check_values"]["dedup.corpus_docs"]
        named = {"bi.query_p50_s": (statistics.median(queries), "s"),
                 "bi.query_tail_s": (tail(queries), "s"),
                 "bi.queries_per_s": (len(queries) / sum(queries), "1/s"),
                 "dedup.docs_per_s": (docs / statistics.median(text), "1/s")}
    named["op_samples"] = (len(lat), "count")
    named["passes"] = (len(res["pass_s"]), "count")
    named["failed_frac"] = (res["failed"] / max(1, res["attempted"]), "ratio")
    return m, named


def per_layer(res, cores):
    spans = {s["id"]: s for s in res["spans"]}
    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s)
    probe = res["probe"]
    passes = sorted({s["pass"] for s in spans.values() if s["name"] == "pass"})

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1000.0

    def self_time(s):
        return dur(s) - sum(dur(c) for c in children.get(s["id"], []))

    def layer(name):
        head = name.split(".")[0]
        return "queries" if head == "queries" else ("harness" if head in ("pass", "etl") else head)

    per_pass = []
    for p in passes:
        root = next(s for s in spans.values() if s["name"] == "pass" and s["pass"] == p)
        lo, hi = root["start_ms"], root["end_ms"]
        wall = dur(root)
        mine = [s for s in spans.values() if s["pass"] == p]
        ids = {str(s["id"]) for s in mine}
        v = {}
        tot = {}
        for sid, c in probe["counters"].items():
            if sid in ids:
                for k, x in c.items():
                    tot[k] = max(tot.get(k, 0), x) if k == "peak_exec_mem_bytes" else tot.get(k, 0) + x
        for k in ["jobs", "stages", "tasks", "task_failures", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "input_bytes", "peak_exec_mem_bytes"]:
            v[f"spark.{k}"] = float(tot.get(k, 0))
        v["spark.task_busy_s"] = tot.get("task_busy_ms", 0) / 1000.0
        v["spark.gc_s"] = tot.get("gc_ms", 0) / 1000.0
        v["spark.core_util"] = v["spark.task_busy_s"] / (wall * cores)
        # driver gap: pass wall time not covered by any job
        iv = sorted((max(j["start_ms"], lo), min(j["end_ms"], hi)) for j in probe["jobs"]
                    if j["span"] in ids and j["end_ms"] > lo and j["start_ms"] < hi)
        covered, cur = 0.0, None
        for a, b in iv:
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        v["spark.driver_gap_s"] = wall - covered / 1000.0
        for ph in ["analysis", "optimization", "planning"]:
            v[f"plan.{ph}_s"] = sum((x["end_ms"] - x["start_ms"]) / 1000.0 for x in probe["phases"]
                                    if x["phase"] == ph and lo <= x["start_ms"] <= hi)
        for name, metric in SPAN_METRICS.items():
            v[metric] = sum(self_time(s) for s in mine if s["name"] == name)
        shares = {}
        for s in mine:
            shares[layer(s["name"])] = shares.get(layer(s["name"]), 0.0) + self_time(s)
        v["share.catalog"] = shares.get("catalog", 0.0) / wall
        v["share.curation"] = sum(shares.get(l, 0.0) for l in CURATION_LAYERS) / wall
        plan = v["plan.analysis_s"] + v["plan.optimization_s"] + v["plan.planning_s"]
        v["share.gap_plan"] = (v["spark.driver_gap_s"] + plan) / wall
        for q in BI_MIX:
            qs = [s for s in mine if s["name"] == f"queries.{q}"]
            v[f"bi.{q}.s"] = sum(dur(s) for s in qs)
            v[f"bi.{q}.jobs"] = float(sum(probe["counters"].get(str(s["id"]), {}).get("jobs", 0)
                                          for s in qs))
        layer_values = res["layers"][passes.index(p)]
        for k in PASS_VALUES:
            v[k] = float(layer_values.get(k, 0.0))
        v["layer_self_s"] = {k: round(x, 6) for k, x in sorted(shares.items())}
        v["wall_s"] = wall
        per_pass.append(v)

    out = {}
    for k in per_pass[0]:
        if k == "layer_self_s":
            continue
        # counters come from the first traced pass; times are medians
        vals = [pp[k] for pp in per_pass]
        out[k] = vals[0] if k in COUNTERS or k.endswith(".jobs") else statistics.median(vals)
    for k in CHECK_VALUES:
        out[k] = float(res["check_values"].get(k, 0.0))
    out["dedup.candidate_pairs"] = float(res["extras"].get("dedup.candidate_pairs", 0.0))
    out["dedup.pair_yield"] = (out["dedup.verified_pairs"] / out["dedup.candidate_pairs"]
                               if out["dedup.candidate_pairs"] else 0.0)
    untraced = statistics.median(res["untraced_pass_s"])
    out["trace.overhead_frac"] = statistics.median(res["pass_s"]) / untraced - 1.0
    varying = sorted({k for k in COUNTERS for pp in per_pass[1:] if k in pp and pp[k] != per_pass[0][k]})
    detail = {"passes": per_pass, "untagged": probe["counters"].get("-", {}),
              "counters_varying_across_passes": varying,
              "counter_vector": {k: out.get(k, 0.0) for k in COUNTERS}}
    return out, detail


# ------------------------------------------------------------------ main

def one_run(workload, seed, seconds, trace):
    build()
    work = os.path.join(HERE, "work", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cpu0 = cpu_times()
        res = run_jvm(workload, seed, seconds, trace, work)
        cpu1 = cpu_times()
        if len(cpu0) > 7 and len(cpu1) == len(cpu0):
            d = [b - a for a, b in zip(cpu0, cpu1)]
            # time the hypervisor gave this machine's CPUs to others
            res["context"]["cpu_steal_frac"] = d[7] / max(1, sum(d))
        checks = list(res["checks"])
        if workload == "read_and_curate":
            try:
                checks += bi_oracle_checks(work)
            except Exception as e:  # a broken oracle compare is a failed check
                checks.append({"name": "bi.oracle_compare", "ok": False, "detail": repr(e)})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["checks"] = checks
    cores = res["context"]["nproc"]
    if trace:
        values, detail = per_layer(res, cores)
        res["per_layer_detail"] = detail
        res["context"]["tracing_overhead_frac"] = values["trace.overhead_frac"]
        res["metrics"] = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        e2e, named = end_to_end(res)
        res["context"]["tracing_overhead_frac"] = "measured by --trace 1 runs"
        res["named_metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
        res["metrics"] = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    return res


def report(res):
    ctx = res["context"]
    print(f"== {res['workload']} seed={res['seed']} trace={int(res['trace'])} nproc={ctx['nproc']} "
          f"loadavg {ctx['loadavg_start']} -> {ctx['loadavg_end']} heap={ctx['jvm_max_heap_bytes']} "
          f"spark={ctx['spark']} scala={ctx['scala']} jdk={ctx['jdk']} "
          f"cpu_steal={ctx.get('cpu_steal_frac', float('nan')):.3f}")
    print(f"   input: {json.dumps(ctx['input'], sort_keys=True)}")
    for c in res["checks"]:
        print(f"   check {'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for k, m in sorted(res.get("named_metrics", {}).items()):
        print(f"   {k} = {m['value']:.6g} {m['unit']}")
    for k, m in sorted(res["metrics"].items()):
        print(f"   {k} = {m['value']:.6g} {m['unit']}")
    det = res.get("per_layer_detail")
    if det:
        print(f"   layer self time, first traced pass: {json.dumps(det['passes'][0]['layer_self_s'])}")
        print(f"   counter vector: {json.dumps(det['counter_vector'], sort_keys=True)}")
        print(f"   counters varying across traced passes: {det['counters_varying_across_passes'] or 'none'}")
    for f in res["failures"]:
        print(f"   FAILED {f['name']}: {f['error']}")


def summary_line(res):
    return {"correct": all(c["ok"] for c in res["checks"]),
            "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": res["metrics"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="every workload, untraced then traced")
    ap.add_argument("--selfcheck", action="store_true",
                    help="two traced runs; the counter vectors must repeat exactly")
    a = ap.parse_args()
    if a.all:
        lines = []
        for w in WORKLOADS:
            for t in (0, 1):
                res = one_run(w, a.seed, a.seconds, t)
                report(res)
                lines.append(summary_line(res))
        print(json.dumps({"correct": all(l["correct"] for l in lines),
                          "attempted": sum(l["attempted"] for l in lines),
                          "failed": sum(l["failed"] for l in lines),
                          "metrics": {}}))
        return
    if not a.workload:
        ap.error("--workload is required unless --all is given")
    if a.selfcheck:
        vecs = []
        for _ in range(2):
            res = one_run(a.workload, a.seed, a.seconds, 1)
            report(res)
            vecs.append(res["per_layer_detail"]["counter_vector"])
        varying = sorted(k for k in COUNTERS if vecs[0].get(k) != vecs[1].get(k))
        print(f"self-check {a.workload}: " + ("counters repeat exactly" if not varying else
              "counters vary: " + ", ".join(f"{k} {vecs[0].get(k)} vs {vecs[1].get(k)}" for k in varying)))
        print(json.dumps({"correct": not varying, "attempted": 2, "failed": 0, "metrics": {}}))
        return
    res = one_run(a.workload, a.seed, a.seconds, a.trace == 1)
    report(res)
    print(json.dumps(summary_line(res)))


if __name__ == "__main__":
    main()
