#!/usr/bin/env python
"""Corpus benchmark: runs every registered query at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "corpus_total_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1, ...}

Usage:
    SPARK_GRAFT_SF_DIR=<dir of corpus parquet tables> python bench.py \\
        [--queries a,b] [--conf '{"spark.sql.shuffle.partitions": "8"}']

Each query is forced end-to-end with a noop sink (full execution, no
driver-side collect cost), min-of-3, and its DuckDB oracle min-of-2.
Every run is split into the ``spark_fn`` call that builds the DataFrame
(``build_s``) and the write (``exec_s``), each in its own Spark job
group, so the per-query record holds the jobs, stages, shuffle, spill
and Catalyst time of each part.

The per-query record goes to ``BENCH_DETAIL*.json``. Only a run of the
whole registry at sf0.1 with the default conf writes the headline
``BENCH_DETAIL.json`` and renders ``BENCH_NOTES.md``; every other run
writes a suffixed detail file and leaves both untouched."""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from perfbench.spans import SparkAccount, catalyst_ms  # noqa: E402
from us_weather_energy_analysis_pipeline_spark.corpus.registry import (  # noqa: E402
    REGISTRY,
    QueryDef,
    _ensure_loaded,
)
from us_weather_energy_analysis_pipeline_spark.operators import cache  # noqa: E402
from us_weather_energy_analysis_pipeline_spark.session import get_spark  # noqa: E402
from us_weather_energy_analysis_pipeline_spark.testing import register_views  # noqa: E402

# Spark min-of-3: run 2 can still execute before C2 compilation lands
# for big generated methods (measured 2× steady state); run 3 is
# reliably steady. DuckDB has no JIT tier, so two runs suffice.
RUNS = 3
DUCK_RUNS = 2
HEADLINE_SF = 0.1
# Counters kept per query, each as a total and as its build-time share.
COUNTERS = (
    "jobs",
    "stages",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "catalyst_ms",
)
# Untimed C2/steady-state warm-up, run on both engines: representative
# scan/agg/join/window/text paths plus one md5/posting-heavy query —
# without the last, the winnow/minhash family's md5+collect_list
# codegen lands cold and even min-of-3 reads ~2× high when those
# queries draw early order.
WARMUP_QUERIES = (
    "tpch_q1_pricing_summary",
    "join_fact_orders",
    "moving_avg_7d",
    "text_quality_score",
    "dedup_exact",
    "text_winnow_fingerprint",
)
# A minimal-but-real query (tiny scan → agg → noop) through the same
# plan/schedule/execute path every corpus query takes: in local mode
# every query pays its time regardless of data volume. Its job count
# turns it into a per-JOB floor — AQE materializes each exchange as its
# own job, so a J-job query pays ~J × the per-job floor.
FLOOR_PROBE = QueryDef(
    "floor-probe",
    lambda spark, sf_dir: spark.read.parquet(f"{sf_dir}/region.parquet")
    .groupBy()
    .count(),
)
_GROUPS = itertools.count()  # job group ids are never reused in a process


def shuffled_order(names, seed: int = 42) -> list[str]:
    """FIXED seeded shuffle of the execution order: alphabetical order
    runs the whole dedup_* family back-to-back, and the GC/allocator
    pressure from one heavy query measurably pollutes its successors.
    The fixed seed keeps sweeps comparable."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def measure_query(spark, acct: SparkAccount, con, sf_dir: str, q: QueryDef, runs: int = RUNS) -> dict:
    """Best of ``runs`` executions of one query, split into layers.

    ``build_s`` times ``q.spark_fn`` (plan construction, including any
    jobs the driver runs while building) and ``exec_s`` the noop write;
    the query's time is their sum. Reading the build's Catalyst time
    between the two parts is excluded from both; ``wall_s`` is the outer
    clock that includes it, and the best run is the one with the
    shortest ``wall_s``, so a run with a host stall in that gap is not
    picked. Accounting for the best run is read after its write, and
    ``cache.release_all()`` runs after every run, outside the clocks.
    The exec part's Catalyst time is measured by planning the built
    plan once more after the write, because the write's own
    QueryExecution is not reachable from Python.

    ``duckdb_s`` is the oracle's min-of-``DUCK_RUNS``, None without one.
    """
    sc = spark.sparkContext
    best = None
    for _ in range(runs):
        build_group, exec_group = (f"bench-{next(_GROUPS)}" for _ in range(2))
        sc.setLocalProperty("spark.jobGroup.id", build_group)
        t0 = time.perf_counter()
        df = q.spark_fn(spark, sf_dir)
        t1 = time.perf_counter()
        build_catalyst = catalyst_ms(df)  # the write extends df's analysis phase
        sc.setLocalProperty("spark.jobGroup.id", exec_group)
        t2 = time.perf_counter()
        _noop(df)
        t3 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        if best is None or t3 - t0 < best["wall_s"]:
            replanned = df.alias("bench_replan")
            replanned._jdf.queryExecution().executedPlan()
            build, exec_ = acct.read(build_group), acct.read(exec_group)
            build["catalyst_ms"] = build_catalyst
            exec_["catalyst_ms"] = catalyst_ms(replanned)
            best = {"wall_s": t3 - t0, "build_s": t1 - t0, "exec_s": t3 - t2}
            for c in COUNTERS:
                best[c] = int(build[c] + exec_[c])
                best[f"build_{c}"] = int(build[c])
        cache.release_all()
    best["duckdb_s"] = None
    if q.oracle:
        best["duckdb_s"] = min(_timed(lambda: con.execute(q.oracle).fetchall()) for _ in range(DUCK_RUNS))
    return best


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _silence_benign_window_warnings(spark) -> None:
    """The only unpartitioned windows in the corpus sit on calendar-grain
    aggregates (day/month spine — cardinality bounded by the calendar,
    not data volume), pinned by tests/test_plans.py's window guards, so
    their per-sweep WindowExec warnings are noise; with the logger off,
    any remaining warning in a recording tail is signal."""
    jvm = spark.sparkContext._jvm
    try:
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # logging backend not log4j2: keep the warnings


def _head() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True, cwd=ROOT
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() or "unknown"


def _render_notes(path: str, detail: dict, sf_dir: str) -> None:
    """Per-query Spark-vs-DuckDB table of one sweep. Regenerated
    wholesale on every headline run, so hand analysis lives in
    BENCH_AB.md, never here."""
    layers = dict(sorted(detail["layers"].items()))
    per_job = detail["per_job_floor_sec"]
    total_s = detail["value"]
    total_d = sum(r["duckdb_s"] for r in layers.values() if r["duckdb_s"] is not None)
    lines = [
        "# BENCH_NOTES — Spark vs DuckDB, end-to-end per corpus query",
        "",
        f"sweep id: `{detail['sweep_id']}` (every number below is from THIS single",
        "sweep; cross-sweep comparison is invalid on a drifting host —",
        "see BENCH_AB.md for the paired methodology).",
        "",
        f"sf_dir: `{sf_dir}` · HEAD `{detail['head']}` · Spark local mode on "
        f"{detail['nproc']} cores, DuckDB single-node.",
        "Both sides run the FULL query (Spark min-of-3, DuckDB min-of-2,",
        "warm path, shuffled execution order, GC paydown every 10).",
        "",
        f"**Totals: spark={total_s:.1f}s, duckdb={total_d:.1f}s over {len(layers)} queries "
        f"(raw ratio {total_s / total_d:.1f}×)**",
        "",
        f"**Scheduling floor: {detail['floor_sec_per_query']:.3f}s / "
        f"{detail['probe_jobs']} jobs = {per_job:.3f}s per JOB** (a minimal",
        "scan→agg→noop through the same execute path). `build s` is the",
        "`spark_fn` call, `build jobs` the jobs it runs while building;",
        "`data s` = spark − jobs × per-job floor (clamped at 0).",
        "",
        f"- per-query floor adjustment: **{detail['value_floor_adjusted']:.1f}s**",
        f"- job-aware adjustment ({detail['total_jobs']} jobs total): "
        f"**{detail['value_floor_adjusted_jobs']:.1f}s**",
        "",
        "| query | spark s | build s | jobs | build jobs | data s | duckdb s | data ratio |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, r in layers.items():
        spark_s = detail["queries"][name]
        data_s = max(0.0, spark_s - r["jobs"] * per_job)
        duck = r["duckdb_s"]
        lines.append(
            f"| {name} | {spark_s:.2f} | {r['build_s']:.2f} | {r['jobs']} | {r['build_jobs']} "
            f"| {data_s:.2f} | {'' if duck is None else f'{duck:.2f}'} "
            f"| {f'{data_s / duck:.1f}×' if duck else ''} |"
        )
    lines += [
        "",
        "## Data-dominated subsets (floor-free)",
        "",
        "Queries where DuckDB itself spends real time — no floor estimate involved:",
        "",
        "| subset | n | spark s | duckdb s | ratio |",
        "|---|---|---|---|---|",
    ]
    for cut in (0.05, 0.1, 0.2):
        sub = [(detail["queries"][n], r["duckdb_s"]) for n, r in layers.items()
               if r["duckdb_s"] is not None and r["duckdb_s"] >= cut]
        ss, sd = sum(s for s, _ in sub), sum(d for _, d in sub)
        lines.append(f"| duckdb ≥ {cut}s | {len(sub)} | {ss:.1f} | {sd:.1f} | {ss / sd if sd else 0:.2f}× |")
    lines += ["", "Operator/plan A/B analysis (hand-written, replicated): see `BENCH_AB.md`.", ""]
    with open(path, "w") as f:
        f.write("\n".join(lines))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    _ensure_loaded()
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--queries", help="comma-separated subset of the registry")
    parser.add_argument("--conf", type=json.loads, default={}, help="JSON object of Spark conf overrides")
    args = parser.parse_args()
    names = list(REGISTRY) if args.queries is None else args.queries.split(",")
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        parser.error(f"unknown queries: {unknown}")
    overrides = args.conf
    if not isinstance(overrides, dict):
        parser.error("--conf must be a JSON object")

    spark = get_spark("bench", extra_conf=overrides)
    _silence_benign_window_warnings(spark)
    con = duckdb.connect()
    register_views(con, sf_dir)
    acct = SparkAccount(spark)

    # Page-cache warmup: the host occasionally reclaims the guest's page
    # cache (balloon), and a cold parquet read mid-sweep skews one query
    # by disk latency. The whole sf dir is small; read it through once.
    for fn in os.listdir(sf_dir):
        path = os.path.join(sf_dir, fn)
        if fn.endswith(".parquet") and os.path.isfile(path):
            with open(path, "rb") as f:
                while f.read(1 << 22):
                    pass
    # JVM/codegen warmup + Python-worker prewarm (Arrow workers cost a few
    # seconds to spawn once per session; on a long-lived cluster they're warm)
    _noop(spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000))
    _noop(spark.range(100).mapInPandas(lambda it: it, "id long"))
    # C2 warmup: tiered compilation of the scan/hash-agg/sort/shuffle/
    # codegen paths takes real executed work — a fresh JVM reads the
    # floor probe ~1.5× high, and min-of-3 cannot fix it because all
    # three runs of the EARLY queries land cold. DuckDB runs the same
    # queries' oracles once so its first timed run is steady-state too.
    for name in WARMUP_QUERIES:
        q = REGISTRY[name]
        _noop(q.spark_fn(spark, sf_dir))
        cache.release_all()
        con.execute(q.oracle).fetchall()

    # The floor is re-probed every 20 queries: the host is multi-tenant
    # and its speed drifts 2-3× over minutes — the probe series is the
    # run's own machine-state record, and the reported floor is its
    # median.
    probe = measure_query(spark, acct, con, sf_dir, FLOOR_PROBE)
    floor_series = [probe["build_s"] + probe["exec_s"]]
    probe_jobs = max(1, probe["jobs"])

    layers: dict[str, dict] = {}
    wall0 = time.time()
    for qi, name in enumerate(shuffled_order(names)):
        if qi and qi % 10 == 0:
            # Pay down JVM GC debt between queries, not inside a timing:
            # queries measured mid-sweep otherwise read 25-60% over
            # their isolated time.
            spark.sparkContext._jvm.System.gc()
        if qi and qi % 20 == 0:
            p = measure_query(spark, acct, con, sf_dir, FLOOR_PROBE, runs=1)
            floor_series.append(p["build_s"] + p["exec_s"])
        layers[name] = measure_query(spark, acct, con, sf_dir, REGISTRY[name])
    wall = round(time.time() - wall0, 3)
    spark.stop()

    for r in layers.values():
        for k in ("wall_s", "build_s", "exec_s", "duckdb_s"):
            if r[k] is not None:
                r[k] = round(r[k], 4)
    timings = {n: round(r["build_s"] + r["exec_s"], 3) for n, r in layers.items()}
    total = round(sum(timings.values()), 3)
    floor_series = [round(f, 3) for f in floor_series]
    floor = sorted(floor_series)[len(floor_series) // 2]  # median
    floor_adj = round(max(0.0, total - floor * len(timings)), 3)
    # Job-aware decomposition: a query scheduling J jobs pays
    # ~J/probe_jobs × floor of pure per-job latency.
    per_job_floor = floor / probe_jobs
    total_jobs = sum(r["jobs"] for r in layers.values())
    floor_adj_jobs = round(max(0.0, total - per_job_floor * total_jobs), 3)

    headline = sf == HEADLINE_SF and args.queries is None and not overrides
    suffix = f"_sf{sf}" + ("_subset" if args.queries else "") + ("_conf" if overrides else "")
    detail_name = "BENCH_DETAIL.json" if headline else f"BENCH_DETAIL{suffix}.json"
    head = _head()
    # sweep id (timestamp + HEAD): every per-query number in the artifact
    # is from THIS one sweep — cross-sweep comparison is invalid on a
    # host whose speed drifts 2-3×.
    detail = {
        "sweep_id": f"{time.strftime('%Y%m%dT%H%M%S')}-{head}",
        "head": head,
        "nproc": len(os.sched_getaffinity(0)),
        "conf": overrides,
        "metric": "corpus_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "layers": layers,
        "sf": sf,
        "n_queries": len(timings),
        "floor_sec_per_query": floor,
        "floor_series": floor_series,
        "probe_jobs": probe_jobs,
        "per_job_floor_sec": round(per_job_floor, 4),
        "total_jobs": total_jobs,
        "value_floor_adjusted": floor_adj,
        "value_floor_adjusted_jobs": floor_adj_jobs,
        "wall_sec_sweep": wall,  # every Spark and DuckDB run + probes
    }
    with open(os.path.join(ROOT, detail_name), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    if headline:
        _render_notes(os.path.join(ROOT, "BENCH_NOTES.md"), detail, sf_dir)
    # The printed line stays SHORT (a tail-captured 100-key JSON line
    # gets truncated); the full record is in the detail file.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "corpus_total_sec",
                "value": total,
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in slowest.items()},
                "sf": sf,
                "n_queries": len(timings),
                "floor_sec_per_query": floor,
                "floor_series": floor_series,
                "per_job_floor_sec": round(per_job_floor, 4),
                "total_jobs": total_jobs,
                "value_floor_adjusted": floor_adj,
                "value_floor_adjusted_jobs": floor_adj_jobs,
                "detail": detail_name,
            }
        )
    )


if __name__ == "__main__":
    main()
