"""Session-lifetime tracking for operator-internal ``persist()`` calls.

Several operators persist a mid-plan DataFrame that MULTIPLE downstream
branches read (rank's keyed input, ngram-dedup's capped shingle index,
minhash signatures). Spark's static/AQE exchange reuse does NOT reliably
collapse those branches (measured: the ngram self-join re-executed its
index subtree per branch), so an explicit persist is the right plan —
but an operator cannot know when the CALLER's action is done, so eager
unpersist inside the operator would just force a recompute.

The contract: operators register their persisted handles via
:func:`track`; loop drivers (the corpus sweep ``bench.py``, the
``perfbench`` corpus workload and the oracle and fuzz tests) call
:func:`release_all` between queries. A long-lived
application that never calls it degrades gracefully to Spark's LRU block
eviction — the same behavior as before tracking existed.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []
_VIEWS: list[tuple[object, str]] = []
_SEQ = itertools.count()


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` (if not already) and register it for later
    :func:`release_all`. Returns the same DataFrame for chaining."""
    df.persist()
    _PERSISTED.append(df)
    return df


def track_view(df: DataFrame, prefix: str = "_tracked") -> str:
    """Persist ``df`` AND expose it as a session temp view; returns the
    view name for use inside ``spark.sql`` text.

    Why not pass the persisted DataFrame as a ``spark.sql(..., x=df)``
    parameter: on Spark 4.1 the analysis of a name-parameterized query
    UNCACHES a persisted DataFrame argument — the CacheManager entry
    disappears and every reference re-executes the full subtree (measured
    r14: ``grouping_sets_flags`` kept all 3 scans, the Bloom
    decontamination ran its gram pass 3×, and the entry stayed evicted
    for later df-API consumers too). A temp-view reference resolves to
    the same analyzed plan and keeps the InMemoryRelation substitution.
    The view is dropped by :func:`release_all` with the persist."""
    track(df)
    name = f"{prefix}_{next(_SEQ)}"
    df.createOrReplaceTempView(name)
    _VIEWS.append((df.sparkSession, name))
    return name


def release_all() -> None:
    """Unpersist every tracked DataFrame (and drop tracked temp views).
    Safe once the caller's action has completed; later re-execution
    recomputes instead of reading cache."""
    while _VIEWS:
        spark, name = _VIEWS.pop()
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass  # session already stopped — nothing to drop
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
