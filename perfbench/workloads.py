"""The benchmark's workloads: inputs from the seed, set-up, one measured
unit of work, and the output checks. ``NOTES.md`` says why each exists,
which layers it loads and which end-to-end metric each layer moves.

Both are driven by one closed-loop client in one process: the next
call is made only after the previous one returned. The program receives
only the generated inputs, never the seed.
"""

from __future__ import annotations

import datetime as dt
import random
import sys
import traceback
from dataclasses import dataclass

from perfbench import checks, corpusgen
from perfbench.spans import Tracer

from us_weather_energy_analysis_pipeline_spark import main as pipeline
from us_weather_energy_analysis_pipeline_spark.analytics import views
from us_weather_energy_analysis_pipeline_spark.analytics.stats import prediction_frame
from us_weather_energy_analysis_pipeline_spark.corpus.registry import REGISTRY, TABLES, _ensure_loaded
from us_weather_energy_analysis_pipeline_spark.operators import cache
from us_weather_energy_analysis_pipeline_spark.plans.etl import resolve_date_range
from us_weather_energy_analysis_pipeline_spark.quality import checks as quality
from us_weather_energy_analysis_pipeline_spark.sources.datagen import cities_dimension

TODAY = dt.date(2024, 7, 1)  # historical mode covers the 180 days before it
START, END = resolve_date_range("historical", TODAY)

# The calls ``main.run_pipeline`` makes, by the layer they belong to and
# whether they build plans, run actions or are plain driver Python.
ETL_CALLS = {
    "synth_noaa_payload": ("sources.synth", "driver"),
    "synth_eia_payload": ("sources.synth", "driver"),
    "land_json": ("sources.land", "driver"),
    "noaa_records_df": ("sources.ingest", "build"),
    "eia_records_df": ("sources.ingest", "build"),
    "process_weather": ("etl.plan", "build"),
    "process_energy": ("etl.plan", "build"),
    "build_fact": ("etl.plan", "build"),
    "quality_report": ("quality.report", "exec"),
    "write_fact": ("etl.write_{fmt}", "exec"),
}

# One query or more from each corpus family: floor-bound scans, joins and
# windows beside the dedup/similarity/winnow operators that move data.
CORPUS_QUERIES = (
    "tpch_q1_pricing_summary",
    "join_fact_orders",
    "moving_avg_7d",
    "quantiles_exact",
    "rfm_segments",
    "text_tfidf_topk",
    "dedup_minhash_lsh",
    "embed_ivf_topk",
    "text_winnow_fingerprint",
)

_A = ("North", "South", "East", "West", "Port", "Lake", "Fort", "Mount", "New", "Old", "Glen", "Cedar")
_B = ("Ash", "Birch", "Clay", "Elm", "Fern", "Gold", "Iron", "Maple", "Oak", "Pine", "Red", "Stone")
_C = ("ton", "field", "ford", "haven", "brook", "view", "ridge", "dale", "wood", "bury", "port", "mouth")


def city_names(seed: int, n: int) -> list[str]:
    """``n`` distinct seeded city names (letters and one space)."""
    names = sorted(f"{a} {b}{c}" for a in _A for b in _B for c in _C)
    return random.Random(f"cities-{seed}").sample(names, n)


@dataclass(frozen=True)
class PageContext:
    """One dashboard filter: a date sub-range, a city subset and the city
    whose differenced time series is charted."""

    start: dt.date
    end: dt.date
    cities: tuple[str, ...]
    diff_city: str


def page_contexts(seed: int, cities: list[str], n: int) -> list[PageContext]:
    rng = random.Random(f"pages-{seed}")
    span = (END - START).days
    out = []
    for _ in range(n):
        length = rng.randint(28, 120)
        start = START + dt.timedelta(days=rng.randint(0, span - length))
        subset = tuple(sorted(rng.sample(cities, rng.randint(1, len(cities)))))
        out.append(PageContext(start, start + dt.timedelta(days=length), subset, rng.choice(subset)))
    return out


def query_order(seed: int, unit: int) -> list[str]:
    """The corpus queries in the seeded order of pass ``unit``."""
    order = list(CORPUS_QUERIES)
    random.Random(f"queries-{seed}-{unit}").shuffle(order)
    return order


def _report_error(what: str) -> None:
    print(f"perfbench: {what} raised:\n{traceback.format_exc()}", file=sys.stderr)


class Workload:
    """A workload is set up once, then measured as a closed loop of units,
    each a user-visible piece of work made of (kind, seconds) requests.
    ``batch`` is the workload's first Spark work in the fresh session,
    timed on its own, so it pays Spark's first-use compilation. The loop
    runs at least ``min_units`` units, even when they overrun the
    measured time. Units keep getting faster as the JIT compiles more of
    Spark, so ``min_units`` is chosen to outlast the measured time:
    every run then measures the same count, and the per-kind medians do
    not move with how many units a run got in."""

    name = ""
    min_units = 3

    def __init__(self, seed: int, work_dir: str):
        self.seed, self.work = seed, work_dir

    def prepare(self) -> None:
        """Write the generated inputs (not part of set-up time)."""

    def batch(self, spark, tracer) -> float:
        """Run the batch and return its seconds."""
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """Untimed work after the batch that the loop relies on."""

    def unit(self, i: int, spark, tracer) -> list[tuple[str, float]]:
        """Run unit ``i``; the (kind, seconds) of each request in it."""
        raise NotImplementedError

    def check(self) -> tuple[int, int, dict]:
        """(operations attempted, operations failed, extra record fields)."""
        raise NotImplementedError


# (chart, layer, builder, phase of the builder call). A builder returns a
# DataFrame, which is then collected, or an already computed result.
CHARTS = (
    ("filter", "analytics.filter", lambda df, c, s: views.filter_view(df, c.start, c.end, c.cities), "build"),
    ("timeseries", "analytics.timeseries", lambda f, c, s: views.timeseries_view(f), "build"),
    (
        "timeseries_diff",
        "analytics.timeseries",
        lambda f, c, s: views.timeseries_view(f, city=c.diff_city, differenced=True),
        "build",
    ),
    ("heatmap", "analytics.heatmap", lambda f, c, s: views.heatmap_view(f), "build"),
    ("latest", "analytics.latest", lambda f, c, s: views.latest_per_city(f, cities_dimension(s)), "build"),
    ("weekend", "analytics.weekend", lambda f, c, s: views.weekend_spans(f), "build"),
    ("ols", "analytics.ols", lambda f, c, s: prediction_frame(f, "temp_avg_f", "energy_demand_gwh"), "build"),
    ("quality_report", "quality.views", lambda f, c, s: quality.quality_report(f), "exec"),
    ("problem_rows", "quality.views", lambda f, c, s: quality.problem_rows(f), "build"),
    ("quality_timeseries", "quality.views", lambda f, c, s: quality.quality_timeseries(f), "build"),
)
GOLD = "processed/weather_energy_parquet"


class EtlDashboard(Workload):
    """The paper's system: the daily historical ETL over seeded cities as
    the first work of a fresh session, the way the CLI runs it, then
    dashboard pages over the gold table it wrote."""

    name = "etl_dashboard"
    n_cities = 10
    warmup_pages = 4
    min_units = 4

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.cities = city_names(seed, self.n_cities)
        self.contexts = page_contexts(seed, self.cities, 64)
        self.out = f"{work_dir}/etl"
        self.report: dict | None = None
        self.pages: list[tuple[PageContext, dict]] = []

    @property
    def gold(self) -> str:
        return f"{self.out}/{GOLD}"

    def batch(self, spark, tracer):
        t0 = tracer.clock()
        try:
            with tracer.patched(pipeline, ETL_CALLS):
                self.report = pipeline.run_pipeline(spark, "historical", self.out, self.cities, TODAY)
        except Exception:
            _report_error("run_pipeline")
        return tracer.clock() - t0

    def warmup(self, spark):
        """Untimed pages compile the chart plans."""
        tracer = Tracer(spark, enabled=False)
        for ctx in self.contexts[len(self.contexts) - self.warmup_pages :]:
            self._page(spark, tracer, self.gold, ctx, [])

    def unit(self, i, spark, tracer):
        """One dashboard page."""
        requests: list[tuple[str, float]] = []
        ctx = self.contexts[i % (len(self.contexts) - self.warmup_pages)]
        self.pages.append((ctx, self._page(spark, tracer, self.gold, ctx, requests)))
        return requests

    @staticmethod
    def _page(spark, tracer, gold, ctx, requests):
        """Every chart of one page, each built and collected on its own."""
        results: dict = {}
        with tracer.span("gold.read", "build"):
            frame = spark.read.parquet(gold)
        for name, layer, builder, phase in CHARTS:
            t0 = tracer.clock()
            try:
                with tracer.span(layer, phase):
                    out = builder(frame if name == "filter" else results["filter_df"], ctx, spark)
                if name == "filter":
                    results["filter_df"] = out
                if hasattr(out, "_jdf"):
                    with tracer.span(layer, "exec") as attach:
                        rows = out.collect()
                        attach(out)
                    out = rows
            except Exception:
                _report_error(f"chart {name}")
                out = None
            requests.append((name, tracer.clock() - t0))
            results[name] = out
        return results

    def check(self):
        problems = ["raised"] if self.report is None else checks.check_etl(
            self.out, self.cities, START, END, self.report
        )
        failed = 1 if problems else 0
        if problems:
            print(f"perfbench: ETL output wrong: {problems[:5]}", file=sys.stderr)
        con = checks.open_gold(self.gold)
        try:
            for ctx, results in self.pages:
                want = checks.expected_charts(con, ctx)
                for name, *_ in CHARTS:
                    got = results.get(name)
                    if got is None or not checks.chart_matches(name, checks.chart_summary(name, got), want[name]):
                        failed += 1
                        print(f"perfbench: chart {name} wrong for {ctx}", file=sys.stderr)
        finally:
            con.close()
        extra = {"sources.records_in": checks.landed_records(self.out)}
        if self.report is not None:
            extra["etl.rows_out"] = self.report["total_rows"]
        return 1 + len(self.pages) * len(CHARTS), failed, extra


class CorpusQueries(Workload):
    """Passes over corpus queries on seeded tables, each query collected
    and compared with its DuckDB oracle answer. The first pass is the
    batch; no warm-up follows it."""

    name = "corpus"

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.data = f"{work_dir}/tables"
        self.answers: list[tuple[str, object]] = []
        _ensure_loaded()

    def prepare(self):
        corpusgen.generate(self.data, self.seed)

    def _run(self, spark, tracer, name):
        q = REGISTRY[name]
        layer = "corpus." + q.spark_fn.__module__.rsplit(".", 1)[-1]
        t0 = tracer.clock()
        try:
            with tracer.span(layer, "build"):
                df = q.spark_fn(spark, self.data)
            with tracer.span(layer, "exec") as attach:
                answer = df.toPandas()
                attach(df)
        except Exception:
            _report_error(f"query {name}")
            answer = None
        seconds = tracer.clock() - t0
        cache.release_all()
        return seconds, answer

    def batch(self, spark, tracer):
        """The first pass, cold."""
        return sum(seconds for _, seconds in self.unit(-1, spark, tracer))

    def unit(self, i, spark, tracer):
        """One pass over the query set."""
        requests = []
        for name in query_order(self.seed, i):
            seconds, answer = self._run(spark, tracer, name)
            requests.append((name, seconds))
            self.answers.append((name, answer))
        return requests

    def check(self):
        import duckdb

        con = duckdb.connect()
        failed, oracle = 0, {}
        try:
            checks.register_tables(con, self.data, TABLES)
            for name, answer in self.answers:
                if name not in oracle:
                    oracle[name] = con.execute(REGISTRY[name].oracle).df()
                if answer is None or not checks.frames_match(answer, oracle[name]):
                    failed += 1
                    print(f"perfbench: query {name} differs from its oracle", file=sys.stderr)
        finally:
            con.close()
        rows = sum(len(a) for _, a in self.answers if a is not None)
        return len(self.answers), failed, {"corpus.collect_rows": rows}


WORKLOADS = {w.name: w for w in (EtlDashboard, CorpusQueries)}
