#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <star_etl|heavy_analytics|ingest_stream>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark's JVM
side (perfbench/build.py) and generates the seeded inputs (perfbench/gen.py)
under `.bench_build/runs/`. A fresh JVM on `local[N]`, N = nproc, sets up
(session, GraftExtensions.register, a first job), runs every query once
untimed to warm up and to write outputs for the checks, then runs the
workload with a single client in a closed loop: passes over the workload
until `--seconds` have elapsed. Outputs are checked after the JVM exits; a
failed operation counts in `failed` and is left out of every latency. It
prints a summary, then one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones: `setup_s` (fresh
JVM launch to the end of the first job), `pass_s` (median pass wall time)
and `retained_heap_mb` (heap in use after full collections once the
workload is done). With `--trace 1` they are the per-layer ones, summed
per traced pass (median over traced passes), plus the tracing overhead
against the untraced passes of the same run. The summary also prints
failed_frac, the median query (or batch) latency and its p90 when ten
samples lie beyond it, the peak RSS, and for ingest_stream batch growth,
docs/s, lookup latency and write amplification; these vary too much
between runs of one pass to gate on.

Expected interactions: a planning or job-count change moves star_etl and
ingest_stream and leaves heavy_analytics flat; a parallelism-policy or
checkpoint-ownership change moves heavy_analytics and leaves star_etl flat;
a change to the pipeline's stages or its write path moves ingest_stream
alone.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from stats import median  # noqa: E402

# Each query is tagged with the engine module its operator lives in
# (`sources`: only the table loaders and Spark SQL). star_etl leaves out
# q_sas_labels, which reads a fixed file outside the checkout, and
# q_quality_counts, which scans every column of all ten tables: 1.7 s, a
# fifth of a pass, and ~4.5 s of each run with its warm-up.
STAR_ETL = {
    "q_date_dim": "operators", "q_sas_date": "functions",
    "q_sas_zero_null": "sources", "q_stay": "functions",
    "q_title_case": "functions", "q_cast_project": "sources",
    "q_first_agg": "operators", "q_pivot": "operators",
    "q_avg_first": "sources", "q_dedup": "operators",
    "q_join_recombine": "operators",
    "q_lookup_left": "operators", "q_cond_fix": "operators",
    "q_fillna": "operators", "q_sql_season": "sources",
    "q_rename_drop": "operators", "q_pipeline_demographics": "operators",
    "q_tpch_q1": "sources", "q_tpch_q3": "sources", "q_tpch_q18": "sources",
}
# One query per module whose iterate-and-pin loops or pinned parallelism
# dominate (PageRank and Mmr checkpoint per generation; CrossVal and
# FuzzyJoin pin their partition counts). A run holds a fresh JVM's set-up,
# an untimed warm-up pass and one timed pass, and 70 runs must fit the
# benchmark's time budget, so the workload stops at four queries.
HEAVY_ANALYTICS = {
    "q_pagerank": "graph", "q_mmr": "similarity", "q_cv_ols": "ml",
    "q_fuzzy_join": "operators",
}
MODULES = ["graph", "operators", "similarity", "ml", "dedup", "functions", "sources"]
WORKLOADS = {
    "star_etl": {"queries": STAR_ETL, "shuffle": True},
    # one query order: a query runs slower after PageRank (by ~40% for
    # q_cv_ols here), whose pinned generations the cleaner is still
    # freeing, so a seeded order would make pass_s vary with the seed
    "heavy_analytics": {"queries": HEAVY_ANALYTICS, "shuffle": False},
    "ingest_stream": {"batches": 2, "batch_size": 300, "resend_frac": 0.1,
                      "probe": 8},
}
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 150
STAGES = ["snapshot", "oov", "dedup", "kept", "stats_ivf", "write", "compact"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]



def log(msg):
    print(msg, file=sys.stderr, flush=True)


class Jvm:
    """The benchmark JVM; `wait_line` returns seconds from launch."""

    def __init__(self, classpath, run_dir, args):
        os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
        self.log = open(os.path.join(run_dir, "jvm.log"), "a")
        self.t0 = time.monotonic()
        self.p = subprocess.Popen(
            ["java", f"-Xmx{JVM_HEAP}", "-Xss16m", "-XX:-UsePerfData", *ADD_OPENS,
             f"-Djava.io.tmpdir={run_dir}/tmp", "-Dderby.system.home=" + run_dir,
             "-cp", os.pathsep.join(classpath), "perfbench.Harness", *args],
            stdout=subprocess.PIPE, stderr=self.log, text=True,
            env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local")))
        self.watchdog = threading.Timer(JVM_TIMEOUT_S, self.p.kill)
        self.watchdog.start()

    def wait_line(self, want):
        for line in self.p.stdout:
            if line.strip() == want:
                return time.monotonic() - self.t0
        raise RuntimeError(f"JVM exited before {want}")

    def stop(self):
        """Wait for the JVM to exit (the watchdog kills it if it overruns)."""
        self.p.stdout.read()
        self.p.wait()
        self.watchdog.cancel()
        self.log.close()


def measure(classpath, run_dir, data, workload, cfg, args):
    """Run the workload in a fresh JVM. Returns its set-up time (launch to
    READY), its raw result and its output directory."""
    out = os.path.join(run_dir, "jvm")
    os.makedirs(out, exist_ok=True)
    extra = (["--queries", ",".join(cfg["queries"]),
              "--shuffle", "1" if cfg["shuffle"] else "0"] if "queries" in cfg
             else ["--batches", str(cfg["batches"])])
    jvm = Jvm(classpath, run_dir, [
        "--workload", workload, "--data", data, "--out", out,
        "--cpus", str(os.cpu_count()), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--seed", str(args.seed), *extra])
    try:
        setup = jvm.wait_line("READY")
    finally:
        jvm.stop()
    if jvm.p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log("".join(f.readlines()[-40:]))
        raise RuntimeError(f"benchmark JVM failed (exit {jvm.p.returncode})")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    return setup, res, out


# ---------------------------------------------------------------- checks

def oracle_check(root, data, out, names):
    """Compare each query's output with its DuckDB oracle, using the
    normalization of tools/compare.py. Returns {query: reason} for the
    queries that differ."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(root, "tools"))
    from compare import normalize

    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    wrong = {}
    for q in names:
        files = sorted(f for f in os.listdir(os.path.join(out, "results", q))
                       if f.endswith(".parquet")) \
            if os.path.isdir(os.path.join(out, "results", q)) else []
        if q not in oracle:
            wrong[q] = "no oracle"
        elif not files:
            wrong[q] = "no output"
        else:
            exp = con.execute(oracle[q]).df()
            got = pd.concat([pd.read_parquet(os.path.join(out, "results", q, f))
                             for f in files], ignore_index=True)
            if sorted(got.columns) != sorted(exp.columns):
                wrong[q] = "columns differ"
            else:
                g, e = normalize(got), normalize(exp)
                if len(g) != len(e) or (g != e).any().any():
                    wrong[q] = f"rows differ ({len(g)} vs {len(e)})"
    return wrong


def ingest_check(data, res):
    """Mark each batch whose results break the pipeline's contract: every
    result doc_id unique, no re-sent document kept. A lookup fails when
    some probe text found no pair at or above the threshold."""
    import duckdb
    con = duckdb.connect()
    resent = set(r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet('{data}/batches/*.parquet') "
        "WHERE resent").fetchall())
    for p in res["passes"]:
        path = os.path.join(p["root"], "results")
        rows = con.execute(
            f"SELECT __batch, id, status FROM read_parquet('{path}/**/*.parquet', "
            "hive_partitioning = true)").fetchall() if os.path.isdir(path) else []
        seen, bad = set(), set()
        for b, i, s in rows:
            if i in seen or (i in resent and s == "kept"):
                bad.add(int(b))
            seen.add(i)
        batches_with_rows = {int(b) for b, _, _ in rows}
        for op in res["ops"]:
            if op["pass"] == p["pass"]:
                op["check_failed"] = (op["batch"] in bad
                                      or op["batch"] not in batches_with_rows)
    for lk in res["lookups"]:
        lk["check_failed"] = lk["missing"] != 0


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- metrics

def end_to_end(setup, res, wrong, ingest):
    ops = [o for o in res["ops"] if not o["traced"]]
    passes = [p for p in res["passes"] if not p["traced"]]
    clean = [p["wall_s"] for p in passes
             if all(stats.good_latencies([o], wrong) for o in ops
                    if o["pass"] == p["pass"])]
    lat = stats.good_latencies(ops, wrong)
    m = {"setup_s": setup,
         "pass_s": median(clean or [p["wall_s"] for p in passes]),
         "retained_heap_mb": res["retained_heap_mb"]}
    p90, beyond = stats.tail_percentile(lat, 0.9)
    info = {"op_p50_s": (median(lat), f"s, {len(lat)} samples"),
            "op_p90_s": (p90, f"s, {len(lat)} samples, {beyond} beyond p90"),
            "peak_rss_mb": (res["peak_rss_mb"], "JVM VmHWM, MB")}
    if ingest:
        looks = [o for o in res["lookups"] if not o["traced"]]
        grow = [stats.growth([o["wall_s"] for o in ops if o["pass"] == p["pass"]])
                for p in passes]
        docs = sum(ingest["batch_size"] for _ in lat)
        info["batch_growth"] = (median(grow), "last quarter / first quarter")
        info["ingest_docs_per_s"] = (docs / sum(lat) if lat else 0.0, "docs/s")
        info["lookup_p50_s"] = (median(stats.good_latencies(looks)), "s")
        last = passes[-1]["root"]
        info["write_amp"] = (sum(dir_bytes(os.path.join(last, t)) for t in
                                 ("dedup", "stats", "ivf", "results"))
                             / ingest["input_bytes"], "bytes stored / input bytes")
        ops = ops + looks
    return m, info, ops


def per_layer(res, modules, cores, ingest):
    """Per-pass sums over the traced passes (median across them), plus the
    tracing overhead against the untraced passes of the same run, which
    come before, between and after them."""
    items = res["ops"] + res.get("lookups", [])
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    per_pass = []
    for p in traced:
        ops = [o for o in items if o["pass"] == p["pass"]]
        lay = {}
        for o in ops:
            for k, v in o["layers"].items():
                lay[k] = lay.get(k, 0.0) + v
        inv = lay.get("plans.graft_rule_invocations", 0.0)
        m = {k: lay.get(k, 0.0) for k in (
            "plans.analysis_s", "plans.optimize_s", "plans.physical_s",
            "plans.graft_rules_s", "sched.jobs", "sched.stages", "sched.tasks",
            "sched.single_task_stages", "exec.run_s", "exec.cpu_s", "exec.gc_s",
            "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
            "spill.mb", "sources.scan_mb")}
        m["plans.rule_effective_ratio"] = (
            lay.get("plans.graft_rule_effective", 0.0) / inv if inv else 0.0)
        m["entry.build_s"] = sum(o.get("build_s", 0.0) for o in ops)
        m["entry.build_jobs"] = sum(o.get("build_jobs", 0) for o in ops)
        m["sched.driver_gap_s"] = sum(o["wall_s"] - o["job_union_s"] for o in ops)
        m["exec.util"] = lay.get("exec.run_s", 0.0) / (p["wall_s"] * cores)
        m["sources.pinned_left"] = sum(o["pinned_left"] for o in ops)
        for mod in MODULES:
            m[f"{mod}.query_s"] = sum(o["wall_s"] for o in ops
                                      if modules.get(o.get("name")) == mod)
        batches = [o for o in res["ops"] if o["pass"] == p["pass"]]
        for s in STAGES:
            m[f"pipelines.{s}_s"] = sum(o.get("stages", {}).get(s, 0.0)
                                        for o in batches)
        looks = [o for o in res.get("lookups", []) if o["pass"] == p["pass"]]
        m["dedup.lookup_s"] = sum(o["wall_s"] for o in looks)
        m["dedup.query_s"] += m["dedup.lookup_s"]
        m["dedup.index_rows"] = p.get("dedup_index_rows", 0)
        m["dedup.bytes_written"] = dir_bytes(os.path.join(p["root"], "dedup")) \
            if ingest else 0
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out["trace.overhead_pass_s"] = (median([p["wall_s"] for p in traced])
                                    - median([p["wall_s"] for p in plain]))
    return out


# ---------------------------------------------------------------- main

T0 = time.monotonic()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    cfg = WORKLOADS[args.workload]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    classpath = build.ensure(root)
    log(f"built at {time.monotonic() - T0:.1f}s")

    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        base = gen.base_tables()
        gen.write(gen.permuted(base, args.seed), data)
        ingest = None
        if "batches" in cfg:
            gen.ingest_inputs(base["documents"], args.seed, cfg["batches"],
                              cfg["batch_size"], cfg["resend_frac"], cfg["probe"], data)
            ingest = dict(cfg, input_bytes=dir_bytes(os.path.join(data, "batches")))
        log(f"generated at {time.monotonic() - T0:.1f}s")
        setup, res, out = measure(classpath, run_dir, data, args.workload, cfg, args)

        log(f"measured at {time.monotonic() - T0:.1f}s")
        queries = cfg.get("queries", {})
        wrong = {}
        if queries:
            wrong = oracle_check(root, data, out, list(queries))
            wrong.update(res["check_errors"])
        else:
            ingest_check(data, res)
        log(f"checked at {time.monotonic() - T0:.1f}s")
        m, info, ops = end_to_end(setup, res, wrong, ingest)
        attempted, failed = stats.failures(ops, wrong)
        for q, why in sorted(wrong.items()):
            log(f"check FAILED {q}: {why}")
        print(f"workload {args.workload}  seed {args.seed}  cores {os.cpu_count()}  "
              f"passes {sum(not p['traced'] for p in res['passes'])}")
        for k, v in m.items():
            print(f"  {k:<20} {v:12.4f} {units[k]}")
        for k, (v, note) in info.items():
            print(f"  {k:<20} {'n/a' if v is None else f'{v:12.4f}'} ({note})")
        print(f"  {'failed_frac':<20} {failed / attempted:12.4f} "
              f"({failed} of {attempted} operations)")
        print(f"  output check: {'PASS' if failed == 0 else 'FAIL'}")
        if args.trace:
            m = per_layer(res, queries, os.cpu_count(), ingest)
            for k, v in m.items():
                print(f"  {k:<32} {v:14.4f} {units[k]}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in m.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
