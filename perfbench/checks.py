"""Output checks, computed with DuckDB outside every timed window.

Each check re-derives the expected answer from the program's inputs or
outputs on disk, independently of the Spark code that produced them:

- ETL: the landed bronze JSON gives the expected per-city sums and means
  of the gold table, and the gold table gives the expected QC report.
- Dashboard: each chart's row count and one aggregate, from the gold
  parquet under the same filter.
- Corpus: the registered DuckDB oracle SQL, compared with the strict
  normalized row compare (columns sorted, cells stringified with
  ``repr`` for floats, rows sorted).
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pandas as pd

MEASURES = ("temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh")
CITY_FROM_FILE = r"(?:weather|energy)_(.+)_\d{4}-\d{2}-\d{2}_\d{4}-\d{2}-\d{2}\.json$"
EPOCH = dt.date(1970, 1, 1)


def close(a, b, rel: float = 1e-7) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)


def _gold(con, path: str) -> None:
    con.execute(
        "CREATE OR REPLACE TABLE gold AS SELECT * FROM "
        f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
    )


def check_etl(out_dir: str, cities: list[str], start: dt.date, end: dt.date, report: dict) -> list[str]:
    """Problems with one ``run_pipeline`` output (empty list = correct)."""
    raw, processed = f"{out_dir}/raw", f"{out_dir}/processed"
    days = (end - start).days + 1
    con = duckdb.connect()
    try:
        _gold(con, f"{processed}/weather_energy_parquet")
        weather = con.execute(
            f"""SELECT city, avg(tmax), avg(tmin), sum(n) FROM (
                  SELECT city, CAST(left(r.date, 10) AS DATE) AS d,
                         avg(CASE WHEN r.datatype = 'TMAX' THEN r.value * 9 / 5 + 32 END) AS tmax,
                         avg(CASE WHEN r.datatype = 'TMIN' THEN r.value * 9 / 5 + 32 END) AS tmin,
                         count(*) AS n
                  FROM (SELECT regexp_extract(filename, '{CITY_FROM_FILE}', 1) AS city,
                               unnest(results) AS r
                        FROM read_json_auto('{raw}/weather_*.json', filename = true))
                  GROUP BY ALL)
                GROUP BY city"""
        ).fetchall()
        energy = con.execute(
            f"""SELECT city, sum(try_cast(r.value AS DOUBLE)), count(*) FROM (
                  SELECT regexp_extract(filename, '{CITY_FROM_FILE}', 1) AS city,
                         unnest(response.data) AS r
                  FROM read_json_auto('{raw}/energy_*.json', filename = true))
                GROUP BY city"""
        ).fetchall()
        gold = {
            r[0]: r[1:]
            for r in con.execute(
                "SELECT city, count(*), sum(energy_demand_gwh), avg(temp_max_f), "
                "avg(temp_min_f) FROM gold GROUP BY city"
            ).fetchall()
        }
        qc = con.execute(
            "SELECT count(*), "
            + ", ".join(f"count(*) - count({c})" for c in MEASURES)
            + ", count(*) FILTER (WHERE coalesce(temp_max_f > 130 OR temp_min_f < -50, false))"
            ", count(*) FILTER (WHERE energy_demand_gwh < 0), max(date) FROM gold"
        ).fetchone()
        csv_rows = con.execute(
            f"SELECT count(*) FROM read_csv('{processed}/weather_energy_csv/*.csv', header = true)"
        ).fetchone()[0]
    finally:
        con.close()

    problems = []
    if sorted(gold) != sorted(cities):
        problems.append(f"gold cities {sorted(gold)[:3]}... != inputs")
    for city, tmax, tmin, _ in weather:
        g = gold.get(city)
        if g is None:
            continue
        if g[0] != days:
            problems.append(f"{city}: {g[0]} gold rows, expected {days}")
        if not (close(g[2], tmax) and close(g[3], tmin)):
            problems.append(f"{city}: mean temps {g[2:]} != landed {tmax, tmin}")
    for city, total, _ in energy:
        if city in gold and not close(gold[city][1], total):
            problems.append(f"{city}: energy sum {gold[city][1]} != landed {total}")
    expected_qc = {
        "total_rows": len(cities) * days,
        "missing_values": dict(zip(MEASURES, qc[1:5])),
        "temp_outliers_count": qc[5],
        "negative_energy_count": qc[6],
        "latest_date": end,
    }
    if qc[0] != len(cities) * days or qc[7] != end:
        problems.append(f"gold has {qc[0]} rows up to {qc[7]}")
    if csv_rows != qc[0]:
        problems.append(f"csv has {csv_rows} rows, gold {qc[0]}")
    for key, want in expected_qc.items():
        if report.get(key) != want:
            problems.append(f"QC {key}={report.get(key)!r}, expected {want!r}")
    return problems


def landed_records(out_dir: str) -> int:
    """Weather observations plus hourly readings landed by one run."""
    con = duckdb.connect()
    try:
        return sum(
            con.execute(
                f"SELECT count(*) FROM (SELECT unnest({col}) FROM "
                f"read_json_auto('{out_dir}/raw/{kind}_*.json'))"
            ).fetchone()[0]
            for kind, col in (("weather", "results"), ("energy", "response.data"))
        )
    finally:
        con.close()


# --- dashboard -------------------------------------------------------------

def chart_summary(name: str, result):
    """(rows, one aggregate) of a collected chart, the shape DuckDB checks."""
    if name == "quality_report":
        return result
    rows = result or []
    col = {
        "filter": "energy_demand_gwh",
        "timeseries": "energy_demand_gwh",
        "timeseries_diff": "energy_demand_gwh",
        "latest": "energy_demand_gwh",
        "ols": "mean",
        "problem_rows": "energy_demand_gwh",
        "quality_timeseries": "n_rows",
    }.get(name)
    if name == "heatmap":
        vals = [r[d] for r in rows for d in r.asDict() if d != "temp_range"]
    elif name == "weekend":
        vals = [(r["span_start"] - EPOCH).days for r in rows]
    else:
        vals = [r[col] for r in rows]
    return len(rows), sum(v for v in vals if v is not None)


def expected_charts(con, ctx) -> dict:
    """DuckDB twins of every chart of one page under ``ctx``'s filter."""
    cities = ", ".join("'" + c.replace("'", "''") + "'" for c in ctx.cities)
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW f AS SELECT * FROM gold WHERE date BETWEEN "
        f"DATE '{ctx.start}' AND DATE '{ctx.end}' AND city IN ({cities})"
    )
    one = lambda sql: tuple(con.execute(sql).fetchone())  # noqa: E731
    bins = (
        "CASE WHEN t >= 90 THEN 5 WHEN t >= 80 THEN 4 WHEN t >= 70 THEN 3 "
        "WHEN t >= 60 THEN 2 WHEN t >= 50 THEN 1 END"
    )
    problem = (
        "(" + " OR ".join(f"{c} IS NULL" for c in MEASURES) + " OR coalesce(temp_max_f > 130 "
        "OR temp_min_f < -50, false) OR coalesce(energy_demand_gwh < 0, false))"
    )
    qc = one(
        "SELECT count(*), "
        + ", ".join(f"count(*) - count({c})" for c in MEASURES)
        + f", count(*) FILTER (WHERE coalesce(temp_max_f > 130 OR temp_min_f < -50, false)),"
        " count(*) FILTER (WHERE energy_demand_gwh < 0), max(date) FROM f"
    )
    diff_city = ctx.diff_city.replace("'", "''")
    return {
        "filter": one("SELECT count(*), coalesce(sum(energy_demand_gwh), 0) FROM f"),
        "timeseries": one(
            "SELECT count(*), coalesce(sum(e), 0) FROM "
            "(SELECT date, sum(energy_demand_gwh) AS e FROM f GROUP BY date)"
        ),
        "timeseries_diff": one(
            "SELECT count(*), coalesce(sum(de), 0) FROM (SELECT "
            "temp_avg_f - lag(temp_avg_f) OVER w AS dt, "
            "energy_demand_gwh - lag(energy_demand_gwh) OVER w AS de "
            f"FROM f WHERE city = '{diff_city}' WINDOW w AS (ORDER BY date)) "
            "WHERE dt IS NOT NULL AND de IS NOT NULL"
        ),
        "heatmap": one(
            f"SELECT count(DISTINCT b), coalesce(sum(e), 0) FROM (SELECT b, dayofweek(date) AS d, "
            f"avg(coalesce(energy_demand_gwh, 0)) AS e FROM (SELECT *, {bins} AS b FROM "
            "(SELECT *, coalesce(temp_avg_f, avg(temp_avg_f) OVER ()) AS t FROM f)) "
            "WHERE b IS NOT NULL GROUP BY b, d)"
        ),
        "latest": one(
            "SELECT count(*), coalesce(sum(energy_demand_gwh), 0) FROM "
            "(SELECT *, row_number() OVER (PARTITION BY city ORDER BY date DESC) AS rn FROM f) "
            "WHERE rn = 1"
        ),
        "weekend": one(
            "SELECT count(*), coalesce(sum(date - DATE '1970-01-01'), 0) FROM "
            "(SELECT DISTINCT date FROM f WHERE dayofweek(date) = 6)"
        ),
        "ols": one(
            "WITH c AS (SELECT temp_avg_f AS x, energy_demand_gwh AS y FROM f "
            "WHERE temp_avg_f IS NOT NULL AND energy_demand_gwh IS NOT NULL), "
            "fit AS (SELECT regr_slope(y, x) AS b, regr_intercept(y, x) AS a FROM c) "
            "SELECT count(*), sum(a + b * x) FROM (SELECT DISTINCT x FROM c), fit"
        ),
        "quality_report": {
            "total_rows": qc[0],
            "missing_values": dict(zip(MEASURES, qc[1:5])),
            "temp_outliers_count": qc[5],
            "negative_energy_count": qc[6],
            "latest_date": qc[7],
        },
        "problem_rows": one(
            "SELECT count(*), coalesce(sum(energy_demand_gwh), 0) FROM "
            f"(SELECT * FROM f WHERE {problem} ORDER BY date, city LIMIT 50)"
        ),
        "quality_timeseries": one("SELECT count(DISTINCT date), count(*) FROM f"),
    }


def chart_matches(name: str, got, want) -> bool:
    if name == "quality_report":
        return all(got.get(k) == v for k, v in want.items())
    return got[0] == want[0] and close(got[1], want[1], rel=1e-6)


def open_gold(path: str):
    con = duckdb.connect()
    _gold(con, path)
    return con


# --- corpus ----------------------------------------------------------------

def register_tables(con, data_dir: str, tables) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )


def normalize(df: pd.DataFrame) -> list[tuple[str, ...]]:
    """Columns sorted by name, every cell stringified (floats by ``repr``,
    so 83.0 never equals 83), rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v) -> str:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "∅"
        if isinstance(v, float):
            return repr(v)
        try:
            if pd.isna(v):
                return "∅"
        except (TypeError, ValueError):
            pass
        return str(v)

    return sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None))


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return (
        len(got) == len(want)
        and sorted(got.columns) == sorted(want.columns)
        and normalize(got) == normalize(want)
    )
