"""The repository's benchmark: the medallion pipeline's incremental run and
a read-only query mix, timed from outside the program.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):
  etl_incremental  incremental Pipeline.runs over seeded drops, each against
                   the post-first-load state the build wrote
  query_mix        registered SparkEntry queries, each fully materialized
                   through a noop sink, in seeded order

The command builds the program from source, generates its inputs from the
seed, runs the harness JVM, checks every output against an independent
DuckDB evaluation, deletes everything it wrote, and prints one JSON result
line last. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics of a traced run. `--arm buckets|streaming` runs the
pipeline with an opt-in path switched on (notes only, not a workload).
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

QUERY_SF = 0.001        # star scale the query mix reads
DROPS = 3               # drops generated; a run lands as many as its time allows
JVM_TIMEOUT_S = 160

# every paper-core query, then one consumer each of the shared artifacts
# not already consumed by them (star_fact and staged_scd2 are)
QUERIES = [
    "q01_pricing_summary", "q02_star_fact", "q03_seller_perf_daily",
    "q04_seller_perf_monthly", "q05_seller_perf_quarterly", "q06_order_rates",
    "q07_seller_segmentation", "q08_customer_analytics", "q09_scd2_fingerprint",
    "q10_watermark_filter", "q11_batch_watermark", "q12_scd2_classify",
    "q13_scd2_new_records", "q14_scd2_expire_keys", "q15_scd2_apply",
    "q16_event_hourly", "q17_top_customers_by_nation", "q46_scd2_deletes",
    "q48_calendar_rollup", "q54_revenue_trend", "q77_scd2_asof",
    "q128_time_travel", "q130_version_diff", "q240_incremental_mart",
    "q258_change_feed", "q259_ivm_apply",
    "q22_dedup_minhash_lsh",    # lsh_pairs
    "q21_dedup_ngram_jaccard",  # jac_pairs_05
    "q25_ann_lsh_topk",         # cnt_embeddings
]
CHECKED_PER_RUN = 4     # untraced runs check a seeded sample; traced runs all


def run_jvm(cp, work, argv):
    log = os.path.join(work, "harness.log")
    cmd = build.java_cmd(cp, work) + [f"{k}={v}" for k, v in argv.items()]
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(argv["out"]):
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness failed: exit {code}")
    with open(argv["out"]) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Inclusive-method quantile (q in 0..100) of a non-empty list."""
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_incremental", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--arm", choices=["default", "buckets", "streaming"], default="default")
    ap.add_argument("--report", help="also write the full harness record here")
    a = ap.parse_args()

    cp = build.build()
    bench_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        argv = {"workload": a.workload, "trace": a.trace, "seconds": a.seconds,
                "work": work, "cpus": os.cpu_count() or 4,
                "out": os.path.join(work, "harness.json")}
        results = []
        if a.workload == "query_mix":
            gen.write_star(a.seed, QUERY_SF, os.path.join(work, "star"))
            rng = random.Random(a.seed)
            order = rng.sample(QUERIES, len(QUERIES))
            checked = order if a.trace else rng.sample(QUERIES, CHECKED_PER_RUN)
            argv.update(star=os.path.join(work, "star"),
                        queries=",".join(order), check=",".join(checked))
            res = run_jvm(cp, work, argv)
            results += checks.check_queries(res, os.path.join(work, "star"))
        else:
            manifest = gen.write_landing(gen.BASE_SEED, a.seed, gen.ETL_SF,
                                         os.path.join(work, "landing"), DROPS)
            results += checks.check_fixtures(manifest, os.path.join(work, "landing"))
            argv.update(landing=os.path.join(work, "landing"), drops=DROPS, arm=a.arm,
                        tables=build.table_arg(), base=build.BASE)
            res = run_jvm(cp, work, argv)
            step_bytes = {st["name"]: st["bytes"] for st in manifest["steps"]}
            for r in res.get("runs", []):
                r["landed_bytes"] = step_bytes[r["step"]]
            results += checks.check_etl(res, manifest, os.path.join(work, "landing"))
        if a.trace:
            results += checks.check_attribution(res, a.workload)
        if a.report:
            with open(a.report, "w") as f:
                json.dump({"harness": res, "checks": results}, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(bench_root) and not os.listdir(bench_root):
            os.rmdir(bench_root)
    results.append(("no temp directory left behind", not os.path.exists(work), work))

    failed_checks = [r for r in results if not r[1]]
    for name, ok, detail in failed_checks:
        sys.stderr.write(f"CHECK FAILED {name}: {detail}\n")
    for e in res.get("errors", []):
        sys.stderr.write(f"OPERATION FAILED {e}\n")
    if "fatal" in res:
        sys.stderr.write(f"HARNESS FATAL {res['fatal']}\n")
    attempted = res["ops"]["attempted"] + len(results)
    failed = res["ops"]["failed"] + len(failed_checks)
    metrics = (per_layer(res, a.workload, failed / attempted) if a.trace
               else end_to_end(res, a.workload))
    print(json.dumps({"correct": failed == 0 and "fatal" not in res,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


def _m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res, workload):
    """JVM CPU seconds (all threads) of set-up and of the timed work: CPU
    time, unlike wall time, does not grow when the host lends the machine's
    cores to other guests (see README, Notes)."""
    if workload == "query_mix":
        passes = res["passes"]
        setup = res["session_cpu_s"] + median([p["warm_cpu_s"] for p in passes])
        run_s = median([p["cpu_s"] for p in passes])
        run_warm = median([p["cpu_s"] + p["warm_cpu_s"] for p in passes])
    else:
        setup = res["session_cpu_s"] + res["restore_cpu_s"] + median(res["setup_cpu_reps"])
        run_s = run_warm = median([r["cpu_s"] for r in res["runs"]])
    return {"setup_s": _m(setup, "s"), "run_cpu_s": _m(run_s, "s"),
            "run_warm_cpu_s": _m(run_warm, "s")}


PER_LAYER = {  # name -> unit; every traced run prints all of them
    "bronze.busy_s": "s", "bronze.self_s": "s", "bronze.rows": "count",
    "bronze.bytes_read": "bytes", "bronze.bytes_written": "bytes", "bronze.jobs": "count",
    "silver.busy_s": "s", "silver.self_s": "s", "silver.batch_rows": "count",
    "silver.staged_rows": "count", "silver.staged_ratio": "ratio",
    "silver.bytes_written": "bytes", "silver.shuffle_bytes": "bytes",
    "silver.spill_bytes": "bytes", "silver.jobs": "count",
    "gold.busy_s": "s", "gold.self_s": "s", "gold.rows_written": "count",
    "gold.bytes_written": "bytes", "gold.shuffle_bytes": "bytes",
    "gold.spill_bytes": "bytes", "gold.jobs": "count",
    "sink.deliver_s": "s", "sink.rows": "count",
    "etl.write_amp": "ratio", "etl.incremental_s": "s",
    "query.plan_s": "s", "query.exec_s": "s", "query.jobs": "count",
    "query.shuffle_bytes": "bytes", "query.spill_bytes": "bytes",
    "query.p50_s": "s", "query.p80_s": "s",
    "warm.total_s": "s", "warm.star_fact_s": "s", "warm.staged_scd2_s": "s",
    "warm.lsh_pairs_s": "s", "warm.jac_pairs_05_s": "s", "warm.cnt_embeddings_s": "s",
    "warm.timed_builds": "count",
    "spark.tasks": "count", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.peak_exec_mem_mb": "MB", "jvm.peak_heap_mb": "MB",
    "wall.run_s": "s", "trace.run_cpu_s": "s", "trace.remainder_s": "s",
    "failed_frac": "ratio",
}


def per_layer(res, workload, failed_frac):
    """Per-layer numbers of a traced run: per timed unit (an incremental
    run or a query pass), averaged over the run's units."""
    v = dict.fromkeys(PER_LAYER, 0.0)
    v["failed_frac"] = failed_frac
    units = res["passes"] if workload == "query_mix" else res["runs"]
    scale = 1.0 / len(units)

    def total(f):
        return scale * sum(f(u) for u in units)

    def layer(u, name, key):
        return u["counters"]["layers"].get(name, {}).get(key, 0)

    def span_sum(u, prefix, kind="s"):
        return sum(t[kind] for t in span_times(u) if t["name"].split("/")[0] == prefix)

    def everything(u, key):
        return sum(c.get(key, 0) for c in u["counters"]["layers"].values())

    v["spark.tasks"] = total(lambda u: everything(u, "tasks"))
    v["spark.cpu_s"] = total(lambda u: everything(u, "cpu_s"))
    v["spark.gc_s"] = total(lambda u: everything(u, "gc_s"))
    v["spark.peak_exec_mem_mb"] = max(
        c.get("peak_exec_mem", 0) for u in units
        for c in u["counters"]["layers"].values()) / 2**20
    v["jvm.peak_heap_mb"] = max(u["counters"]["peak_heap"] for u in units) / 2**20
    if workload == "query_mix":
        v["wall.run_s"] = total(lambda u: sum(u["times"].values()))
        v["trace.run_cpu_s"] = total(lambda u: u["cpu_s"])
        v["query.plan_s"] = total(lambda u: sum(u["plan"].values()))
        v["query.exec_s"] = v["wall.run_s"] - v["query.plan_s"]
        for key, name in (("jobs", "query.jobs"), ("shuffle_write", "query.shuffle_bytes"),
                          ("spill", "query.spill_bytes")):
            v[name] = total(lambda u: layer(u, "query.plan", key) + layer(u, "query.exec", key))
        per_query = {}
        for p in units:
            for q, t in p["times"].items():
                per_query.setdefault(q, []).append(t)
        times = sorted(median(t) for t in per_query.values())
        v["query.p50_s"], v["query.p80_s"] = median(times), percentile(times, 80)
        v["warm.total_s"] = total(lambda u: u["warm_s"])
        for art in ("star_fact", "staged_scd2", "lsh_pairs", "jac_pairs_05", "cnt_embeddings"):
            v[f"warm.{art}_s"] = total(lambda u: u["warm"].get(art, 0.0))
        v["warm.timed_builds"] = total(lambda u: u["timed_builds"])
        v["trace.remainder_s"] = total(lambda u: span_sum(u, "query") - sum(u["times"].values()))
        return {k: _m(x, PER_LAYER[k]) for k, x in v.items()}

    for name in ("bronze", "silver", "gold"):
        v[f"{name}.busy_s"] = total(lambda u: span_sum(u, name))
        v[f"{name}.self_s"] = total(lambda u: span_sum(u, name, "self"))
        v[f"{name}.jobs"] = total(lambda u: layer(u, name, "jobs"))
        v[f"{name}.bytes_written"] = total(lambda u: layer(u, name, "bytes_written"))
    for name in ("silver", "gold"):
        v[f"{name}.shuffle_bytes"] = total(lambda u: layer(u, name, "shuffle_write"))
        v[f"{name}.spill_bytes"] = total(lambda u: layer(u, name, "spill"))
    v["bronze.rows"] = total(lambda u: sum(max(0, b["rows"]) for b in u["bronze"]))
    v["bronze.bytes_read"] = total(lambda u: layer(u, "bronze", "bytes_read"))
    # Silver's batch is each run's Bronze append (the rows past the watermark)
    v["silver.batch_rows"] = v["bronze.rows"]
    v["silver.staged_rows"] = total(lambda u: sum(s["staged"] for s in u["silver"]))
    v["silver.staged_ratio"] = v["silver.staged_rows"] / max(1, v["silver.batch_rows"])
    v["gold.rows_written"] = total(lambda u: u["gold_rows"])
    v["sink.deliver_s"] = total(lambda u: u["sink_s"])
    v["sink.rows"] = total(lambda u: u["sink_rows"])
    v["etl.write_amp"] = (total(lambda u: everything(u, "bytes_written"))
                          / max(1, total(lambda u: u["landed_bytes"])))
    v["etl.incremental_s"] = median([u["s"] for u in units])
    v["wall.run_s"] = v["etl.incremental_s"]
    v["trace.run_cpu_s"] = median([u["cpu_s"] for u in units])
    v["trace.remainder_s"] = total(lambda u: u["s"] - sum(
        span_sum(u, n) for n in ("bronze", "silver", "gold")))
    return {k: _m(x, PER_LAYER[k]) for k, x in v.items()}


def span_times(u):
    """Each span's busy and self seconds: self is its duration minus the
    part its direct children cover (one thread, so children never overlap)."""
    covered = {}
    for sp in u["spans"]:
        covered[sp["parent"]] = covered.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
    return [{"name": sp["name"], "s": sp["end"] - sp["start"],
             "self": sp["end"] - sp["start"] - covered.get(sp["id"], 0.0)}
            for sp in u["spans"]]


if __name__ == "__main__":
    main()
