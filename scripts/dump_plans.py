#!/usr/bin/env python
"""Dump .explain("formatted") for named corpus queries.

Usage: python scripts/dump_plans.py <out_dir> <suffix> q1,q2,...
Writes <out_dir>/<query>_<suffix>.txt (suffix = before|after), e.g.
``python scripts/dump_plans.py /tmp/plans before rfm_segments``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
    REGISTRY,
    _ensure_loaded,
)
from us_weather_energy_analysis_pipeline_spark.operators import cache
from us_weather_energy_analysis_pipeline_spark.session import get_spark


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _ensure_loaded()
    spark = get_spark("dump-plans", master=os.environ.get("PLANS_MASTER", "local[4]"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        q = REGISTRY[name]
        df = q.spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        cache.release_all()
        print(f"wrote {name}_{suffix}.txt ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
