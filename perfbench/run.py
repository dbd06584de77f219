"""Benchmark of the weather/energy pipeline, its dashboard and the query
corpus, on ``local[<cores>]``.

    python3 perfbench/run.py --workload etl_dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It sets the workload up, measures it in
a closed loop for ``--seconds``, checks every output with DuckDB and
prints one JSON line last: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A stamped record of the run
(every op time, every span, quartiles, per-module layer metrics) goes to
``.bench_out/``; a readable summary goes to stderr. ``NOTES.md`` has the
workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "us_weather_energy_analysis_pipeline_spark"


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # -XX:-UsePerfData: HotSpot writes /tmp/hsperfdata_<user> whatever
    # java.io.tmpdir says.
    java_options = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java_options)} pyspark-shell"


def _stamp(args, cores: int) -> dict:
    sha = hashlib.sha1()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        sha.update(path.read_bytes())
    head = ""
    if (ROOT / ".git").exists():
        try:
            head = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    import pyspark

    src = sha.hexdigest()[:12]
    return {
        "sweep_id": f"{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}-{head or src}",
        "head": head or "unknown",
        "src_sha1": src,
        "nproc": cores,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot. Time the
    hypervisor gives to other guests shows as steal and slows every
    timing of the run, so the stamp carries its share."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]  # guest time is already in user
    return ticks[7], sum(ticks)


def floor_probe(spark, n: int = 5) -> float:
    """Median wall time of a minimal one-job query: a drift canary."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return {"n": len(values), "q1": v, "median": v, "q3": v, "p90": v}
    q = statistics.quantiles(values, n=4, method="inclusive")
    return {
        "n": len(values),
        "q1": q[0],
        "median": q[1],
        "q3": q[2],
        "p90": statistics.quantiles(values, n=10, method="inclusive")[8],
    }


def measure(workload, spark, tracer, seconds: float, trace: bool) -> list[dict]:
    """Closed loop of request units until ``seconds`` have passed. With
    ``trace`` every other unit is traced, so the untraced units beside
    them give the tracing overhead."""
    units = []
    deadline = time.perf_counter() + seconds
    while len(units) < workload.min_units or time.perf_counter() < deadline:
        i = len(units)
        tracer.enabled = trace and i % 2 == 1
        tracer.unit = i
        t0 = tracer.clock()
        requests = workload.unit(i, spark, tracer)
        units.append({"index": i, "traced": tracer.enabled, "wall_s": tracer.clock() - t0, "requests": requests})
    tracer.enabled = False
    return units


def by_kind(units, traced: bool) -> dict[str, list[float]]:
    """Request seconds of the traced or the untraced units, per kind."""
    kinds: dict[str, list[float]] = {}
    for u in units:
        if u["traced"] == traced:
            for kind, seconds in u["requests"]:
                kinds.setdefault(kind, []).append(seconds)
    return kinds


def kind_medians(units, traced: bool = False) -> list[float]:
    """The median time of each request kind, sorted. Their sum is a
    typical unit: every request at its kind's median, so a slow stretch
    shorter than half the run leaves it alone."""
    return sorted(statistics.median(v) for v in by_kind(units, traced).values())


def layer_metrics(tracer, units, batch_wall: float) -> tuple[dict, dict]:
    """(per-layer metrics for the result line, per-module detail). Each
    value is that of the batch plus the median traced unit."""
    traced = [u["index"] for u in units if u["traced"]]

    def combine(key) -> dict[str, float]:
        return {
            k: v.get(-1, 0.0) + statistics.median(v.get(i, 0.0) for i in traced)
            for k, v in tracer.per_unit(key).items()
        }

    top = sum(s.seconds for s in tracer.spans if s.depth == 0)
    wall = batch_wall + sum(u["wall_s"] for u in units if u["traced"])
    phases = combine(lambda s: f"layer.{s.phase}" if s.phase != "driver" else None)
    metrics = {
        "trace.overhead_frac": (sum(kind_medians(units, True)) / sum(kind_medians(units)) - 1, "frac"),
        "trace.coverage_frac": (top / wall, "frac"),
        "layer.build_s": (phases.get("layer.build_s", 0.0), "s"),
        "layer.exec_s": (phases.get("layer.exec_s", 0.0), "s"),
        "layer.build_jobs": (phases.get("layer.build.jobs", 0.0), "count"),
        "layer.exec_jobs": (phases.get("layer.exec.jobs", 0.0), "count"),
    }
    for key, value in combine(lambda s: "spark").items():
        if key != "spark_s":
            unit = "ms" if key.endswith("_ms") else "bytes" if key.endswith("_bytes") else "count"
            metrics[key] = (value, unit)
    layers = combine(lambda s: s.name)
    jobs = tracer.per_unit(lambda s: "unit")["unit.jobs"]
    layers["unit.jobs"] = statistics.median(jobs.get(i, 0.0) for i in traced)  # per page or pass
    return metrics, layers


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no program sources at {ROOT / PACKAGE}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    _isolate(work)
    sys.path.insert(0, str(ROOT))

    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS
    from us_weather_energy_analysis_pipeline_spark.session import get_spark

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    record = {"stamp": _stamp(args, cores)}
    workload = WORKLOADS[args.workload](args.seed, str(work))
    spark = None
    steal0 = cpu_ticks()
    try:
        workload.prepare()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]")
        t1 = time.perf_counter()
        tracer = Tracer(spark, enabled=bool(args.trace))
        batch = workload.batch(spark, tracer)
        tracer.enabled = False
        t2 = time.perf_counter()
        workload.warmup(spark)
        t3 = time.perf_counter()
        floor_before = floor_probe(spark)
        units = measure(workload, spark, tracer, args.seconds, bool(args.trace))
        floor_after = floor_probe(spark)
        rss = peak_rss_mb(spark)
        steal1 = cpu_ticks()
        shutdown(spark)
        spark = None
        attempted, failed, extra = workload.check()
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    session = {
        "session.start_s": (t1 - t0, "s"),
        "session.warmup_s": (t3 - t2, "s"),
        "session.peak_rss_mb": (rss, "MB"),
        "host.floor_probe_s": (floor_before, "s"),
    }
    record["stamp"].update(
        {k: v for k, (v, _) in session.items()},
        floor_probe_after_s=floor_after,
        host_steal_frac=(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
    )
    record.update(attempted=attempted, failed=failed, failed_frac=failed / max(1, attempted), **extra)
    record["batch_s"] = batch
    record["units"] = units
    record["quartiles"] = {f"request.{k}_s": quartiles(v) for k, v in sorted(by_kind(units, False).items())}
    medians = kind_medians(units)
    record["request_p50_s"] = statistics.median(medians)
    record["request_p90_s"] = statistics.quantiles(medians, n=10, method="inclusive")[8]
    if args.trace:
        metrics, layers = layer_metrics(tracer, units, batch)
        metrics.update(session)
        record["layers"] = layers
        record["spans"] = [vars(s) for s in tracer.spans]
    else:
        metrics = {
            "setup_s": ((t1 - t0) + (t3 - t2), "s"),
            "batch_s": (batch, "s"),
            "unit_s": (sum(medians), "s"),
        }

    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    stamp = record["stamp"]
    name = f"{stamp['sweep_id']}-{args.workload}-s{args.seed}-t{args.trace}.json"
    (out_dir / name).write_text(json.dumps(record, indent=1, default=str))

    for key, (value, unit) in sorted(metrics.items()):
        print(f"  {key:28s} {value:14.6g} {unit}", file=sys.stderr)
    for key, value in sorted(record.get("layers", {}).items()):
        print(f"  {key:36s} {value:14.6g}", file=sys.stderr)
    for key, q in sorted(record["quartiles"].items()):
        print(f"  {key:36s} median {q['median']:.4g} [q1 {q['q1']:.4g}, q3 {q['q3']:.4g}] n={q['n']}", file=sys.stderr)
    print(
        f"  request p50 {record['request_p50_s']:.4g} s, p90 {record['request_p90_s']:.4g} s over "
        f"{len(medians)} kind medians; failed_frac {record['failed_frac']:.4g} ({failed}/{attempted}); host steal "
        f"{stamp['host_steal_frac']:.1%}; record .bench_out/{name}",
        file=sys.stderr,
    )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
