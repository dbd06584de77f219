"""Range-partitioned EXACT global order statistics — rank / ntile /
cumulative sum with NO single-partition sort anywhere in the plan.

A global ``Window.orderBy(...)`` (ntile, row_number, running sum over a
whole table) funnels every row into ONE task — the classic 100 TB
straggler (Spark logs ``WindowExec: No Partition Defined`` for exactly
this reason). This operator computes the same results with a parallel
sort, the same two-pass trick as ``operators/quantile.py``:

1. bin boundaries come from ONE driver-side ``approxQuantile`` over the
   (direction-adjusted) sort key(s) and are baked into the plan as
   literals, so the bin id is a pure function of the key — no reliance
   on exchange reuse between plan branches;
2. per-bin row counts (and, when requested, per-bin value sums) are
   aggregated map-side and collected in ONE job — the collected table is
   bounded by ``num_bins`` (≤ a few dozen rows), NOT by data volume; for
   several orderings the per-ordering counts are stacked into that one
   aggregation;
3. prefix offsets over the bins are computed in plain Python and baked
   into the plan as a LITERAL array lookup (``element_at(array(...),
   pid + 1)``) — no join, no broadcast exchange, no extra plan branch;
4. within each bin a PARTITIONED window (partitionBy bin) assigns
   ``row_number`` / running sums; global rank = bin offset + local rank.

Cumulative sums are computed over LONG columns (callers pre-scale
rounded decimals to integer cents) so the bin-parallel partial sums are
exactly associative — bit-identical to a sequential scan, no float
reordering hazard.

Each operator has one small path and one distributed path:

- small (NTILE only, ``multi_global_ntile``): below
  ``SMALL_KEY_THRESHOLD`` rows, ONE bounded driver collect of the sort
  keys and tiebreaks (``plan_meta.small_keys_frame``) yields each
  bucket's last row, and the bucket becomes a literal row-local
  comparison — no window, no shuffle. Null or NaN keys, non-numeric
  tiebreaks or a duplicate tuple at a bucket edge send it to the
  distributed path. ``global_order_stats`` has no small path of its
  own: its corpus callers (Pareto, Gini) answer small inputs on the
  driver from the same collect before calling it.
- distributed: two driver actions over the persisted keyed input, the
  approxQuantile boundary probe and the bounded bin-stats job, then one
  fully parallel final job. The input here is typically a small
  aggregate of a huge fact table (group totals, per-doc stats) —
  exactly what a production job persists.

Reference parity: the reference has no distribution profiler at all
(``src/analysis.py:6-67`` stops at mean/median/OLS); these are the
corpus-statistics idioms (Pareto, Gini, NTILE segmentation) re-expressed
for Spark's execution model.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.operators import cache
from us_weather_energy_analysis_pipeline_spark.operators.plan_meta import (
    SMALL_KEY_THRESHOLD,
    small_keys_frame,
    small_scan,
)

DEFAULT_BINS = 32
_APPROX_EPS = 0.01  # bins only need rough balance; 0.001 measurably slower


@dataclass
class OrderSpec:
    """One global ordering: ``key`` (numeric or castable to double; for
    timestamps pass e.g. ``F.unix_micros(col)``) in the given direction,
    ties broken by ``tiebreaks`` ascending."""

    key: Column | str
    ascending: bool = True
    tiebreaks: tuple[str, ...] = ()
    out_col: str = "ntile"
    cum_cols: tuple[str, ...] = field(default_factory=tuple)

    def sort_key(self) -> Column:
        """Direction-adjusted double sort key.

        Null keys are routed to a dedicated sentinel bin (first for
        ascending orders, last for descending — exactly Spark's window
        ``ORDER BY`` null placement, i.e. ASC → NULLS FIRST, DESC →
        NULLS LAST), ranked among themselves by the tiebreaks.

        Caveat (caller contract): the double cast is exact only up to
        2^53; 64-bit integer keys beyond that can mis-rank. Pre-scale or
        split such keys.
        """
        sk = F.col(self.key) if isinstance(self.key, str) else self.key
        sk = sk.cast("double")
        return sk if self.ascending else -sk


def _pid_expr(sk_name: str, cuts: list[float], null_first: bool = True) -> Column:
    """Bin id: nulls → sentinel bin 0 (``null_first``) or ``n_cuts + 2``
    (nulls last); non-null keys → ``1 + Σ (key > cut)`` over the sorted
    distinct cut literals (real bins 1 .. n_cuts + 1).

    Built as ONE SQL string parsed by a single ``F.expr`` — the previous
    per-cut Column arithmetic was ~30 Py4J roundtrips per ordering
    (~0.25 s of pure driver latency per call, ×3 for RFM). Cut doubles
    go through ``CAST('<repr>' AS DOUBLE)``: Python ``repr`` round-trips
    float64 exactly, so the JVM comparison sees bit-identical literals.
    """
    cs = sorted(set(cuts))
    body = " + ".join(
        f"CAST({sk_name} > CAST('{float(b)!r}' AS DOUBLE) AS INT)" for b in cs
    ) or "0"
    null_pid = 0 if null_first else len(cs) + 2
    return F.expr(
        f"CASE WHEN {sk_name} IS NULL THEN {null_pid} ELSE 1 + ({body}) END"
    )


def _n_pids(cuts: list[float]) -> int:
    """Total bin-id range incl. both null sentinels: 0 .. n_cuts + 2."""
    return len(sorted(set(cuts))) + 3


def _lookup(values: list[int], pid_col: str) -> Column:
    """Literal array lookup: values[pid] as a Column (1-based element_at).
    One ``F.expr`` parse instead of per-element ``F.lit`` roundtrips."""
    arr = ", ".join(f"{int(v)}L" for v in values)
    return F.expr(f"element_at(array({arr}), {pid_col} + 1)")


def _lex_gt_sql(
    names: Sequence[str], literals: Sequence[str]
) -> str:
    """SQL text of the strict lexicographic comparison
    ``(names) > (literals)`` — ties cascade into the next component."""
    head_n, head_l = names[0], literals[0]
    gt = f"{head_n} > {head_l}"
    if len(names) == 1:
        return gt
    rest = _lex_gt_sql(names[1:], literals[1:])
    return f"({gt} OR ({head_n} = {head_l} AND ({rest})))"


def _num_literal(v) -> str | None:
    """Exact SQL literal for a numpy/python numeric; None = unsupported."""
    import numpy as np

    if isinstance(v, (int, np.integer)):
        return f"{int(v)}L"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f:  # NaN keys violate the non-null/total-order contract
            return None
        return f"CAST('{f!r}' AS DOUBLE)"
    return None


def _try_small_ntile_exprs(
    base: DataFrame,
    specs: Sequence["OrderSpec"],
    k: int,
    gate: int = SMALL_KEY_THRESHOLD,
    known_bounded: bool | None = None,
):
    """Small-path NTILE with ZERO extra shuffles: collect the sort keys
    + tiebreaks once (bounded — ``small_keys_frame``), locate each
    bucket's LAST ROW (key, tiebreaks...) driver-side with a lexsort,
    and assign buckets as ``1 + Σ_b [row >lex boundary_b]`` — a pure
    row-local literal expression. The per-ordering ``partitionBy(pid)``
    window (one shuffle EACH — the dominant job count of the RFM shape)
    disappears entirely; the final plan is scan → literal projections →
    caller's aggregate.

    Exactness: the driver lexsort replicates the window's
    ``ORDER BY sk ASC, tiebreaks ASC`` over the same float64/int64
    values, and each boundary literal round-trips via ``repr``. The
    literal form is exact iff every boundary tuple is distinct from its
    successor (duplicates would straddle the bucket edge, where NTILE
    splits them but ``>`` cannot); tiebreaks are unique row keys in
    every corpus caller, and the adjacent-duplicate check below bails to
    the distributed path otherwise — as it does for null/non-numeric
    tiebreaks or null/NaN keys. Returns one Column per spec, or None."""
    import numpy as np

    need: list[str] = [f"_sk{i}" for i in range(len(specs))]
    for s in specs:
        for t in s.tiebreaks:
            if t not in need:
                need.append(t)
    pdf = small_keys_frame(base, need, gate, known_bounded=known_bounded)
    if pdf is None:
        return None
    exprs = []
    for i, spec in enumerate(specs):
        sk_name = f"_sk{i}"
        sk = pdf[sk_name].to_numpy()
        if not np.issubdtype(sk.dtype, np.floating) or np.isnan(sk).any():
            return None  # null keys present — honor the window fallback
        tb_arrs = []
        for t in spec.tiebreaks:
            arr = pdf[t].to_numpy()
            if not (
                np.issubdtype(arr.dtype, np.integer)
                or np.issubdtype(arr.dtype, np.floating)
            ) or (np.issubdtype(arr.dtype, np.floating) and np.isnan(arr).any()):
                return None
            tb_arrs.append(arr)
        n = len(sk)
        if n == 0:
            exprs.append(F.expr("CAST(1 AS INT)"))
            continue
        order = np.lexsort(tuple(reversed(tb_arrs)) + (sk,))
        q, r = divmod(n, k)
        terms = []
        names = [sk_name] + list(spec.tiebreaks)
        for b in range(1, k):
            e = b * (q + 1) if b <= r else r * (q + 1) + (b - r) * q
            if e <= 0 or e >= n:
                continue
            lo, hi = order[e - 1], order[e]
            row = [sk[lo]] + [a[lo] for a in tb_arrs]
            nxt = [sk[hi]] + [a[hi] for a in tb_arrs]
            if all(x == y for x, y in zip(row, nxt)):
                return None  # duplicate tuple straddles a bucket edge
            lits = [_num_literal(v) for v in row]
            if any(lit is None for lit in lits):
                return None
            terms.append(f"CAST(({_lex_gt_sql(names, lits)}) AS INT)")
        body = " + ".join(terms) if terms else "0"
        exprs.append(F.expr(f"CAST(1 + {body} AS INT)"))
    return exprs


class _BinStats:
    """Prefix offsets + totals for one ordering, from the bounded per-bin
    rows collected driver-side: ``roff[p]`` rows precede bin p;
    ``coff[c][p]`` is the running sum of column c before bin p."""

    def __init__(self, n_pids: int, rows, cum_cols: Sequence[str]):
        by_pid = {r["_pid"]: r for r in rows}
        self.roff: list[int] = []
        self.coff: dict[str, list[int]] = {c: [] for c in cum_cols}
        self.n = 0
        self.totals: dict[str, int] = {c: 0 for c in cum_cols}
        for p in range(n_pids):
            self.roff.append(self.n)
            r = by_pid.get(p)
            for c in cum_cols:
                self.coff[c].append(self.totals[c])
                if r is not None:
                    self.totals[c] += r[f"_s_{c}"] or 0
            if r is not None:
                self.n += r["_cnt"]


def _attach_rank(
    df: DataFrame,
    i: int,
    spec: OrderSpec,
    stats: _BinStats,
    rank_col: str,
) -> DataFrame:
    """Assuming ``_sk{i}``/``_pid{i}`` are present, append the exact
    global rank (+ running sums) for one ordering: literal-array bin
    offset + partitioned per-bin window. Purely lazy — no joins, no
    broadcasts, no extra plan branches."""
    sk, pid = f"_sk{i}", f"_pid{i}"
    w = Window.partitionBy(pid).orderBy(
        F.col(sk).asc(), *[F.col(t).asc() for t in spec.tiebreaks]
    )
    out = df.withColumn(
        rank_col,
        (_lookup(stats.roff, pid) + F.row_number().over(w)).cast("long"),
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for c in spec.cum_cols:
        out = out.withColumn(
            f"{c}_cum",
            (_lookup(stats.coff[c], pid) + F.sum(c).over(w_run)).cast("long"),
        )
    return out.drop(sk, pid)


def _ntile_from_rank(rank: Column, n: int, k: int) -> Column:
    """SQL NTILE(k) bucket from a 1-based global rank with LITERAL n:
    the first ``n mod k`` buckets get ``ceil(n/k)`` rows, the rest
    ``floor(n/k)``."""
    q, r = divmod(n, k)
    if q == 0:  # fewer rows than buckets: bucket == rank
        return rank.cast("int")
    head = r * (q + 1)
    return (
        F.when(rank <= F.lit(head), F.floor((rank - 1) / F.lit(float(q + 1))) + 1)
        .otherwise(F.lit(r) + F.floor((rank - 1 - F.lit(head)) / F.lit(float(q))) + 1)
        .cast("int")
    )


def global_order_stats(
    df: DataFrame,
    key: Column | str,
    *,
    ascending: bool = True,
    tiebreaks: Sequence[str] = (),
    cum_cols: Sequence[str] = (),
    num_bins: int = DEFAULT_BINS,
    rank_col: str = "global_rn",
    n_col: str | None = None,
    totals: bool = False,
    persist: bool = True,
) -> DataFrame:
    """Append the exact global 1-based ``rank_col`` (ordered by ``key``
    in the given direction, then ``tiebreaks`` ascending) and, for each
    ``c`` in ``cum_cols`` (must be integer-typed, non-null), an exact
    running sum ``{c}_cum`` including the current row. ``n_col`` names
    an optional total-row-count column; ``totals=True`` adds ``{c}_tot``
    grand-total columns — all literals (known driver-side from the
    bounded bin stats), zero extra plan cost. ``persist`` keeps the keyed
    input cached past the call (the returned plan still reads it; loop
    drivers release it through ``operators.cache.release_all``)."""
    spec = OrderSpec(key, ascending, tuple(tiebreaks), cum_cols=tuple(cum_cols))
    base = df.withColumn("_sk0", spec.sort_key())
    if persist:
        base = cache.track(base)
    nb = max(2, num_bins)
    cuts = base.stat.approxQuantile(
        "_sk0", [i / nb for i in range(1, nb)], _APPROX_EPS
    )
    aggs = [F.count(F.lit(1)).alias("_cnt")] + [
        x
        for c in cum_cols
        for x in (
            F.sum(F.col(c)).cast("long").alias(f"_s_{c}"),
            F.count(F.col(c)).alias(f"_nn_{c}"),
        )
    ]
    binned = base.withColumn("_pid0", _pid_expr("_sk0", cuts, spec.ascending))
    rows = binned.groupBy(F.col("_pid0").alias("_pid")).agg(*aggs).collect()
    # a NULL cum value would be silently skipped by sum(), making the
    # running sums wrong — fail loudly instead
    for r in rows:
        for c in cum_cols:
            if r[f"_nn_{c}"] != r["_cnt"]:
                raise TypeError(
                    f"cum column {c!r} contains NULLs; the exact "
                    "integer cumsum contract requires non-null values"
                    " — coalesce before calling"
                )
    stats = _BinStats(_n_pids(cuts), rows, cum_cols)
    out = _attach_rank(binned, 0, spec, stats, rank_col)
    if n_col:
        out = out.withColumn(n_col, F.lit(stats.n).cast("long"))
    if totals:
        for c in cum_cols:
            out = out.withColumn(
                f"{c}_tot", F.lit(stats.totals[c]).cast("long")
            )
    return out


def global_ntile(
    df: DataFrame,
    key: Column | str,
    k: int,
    *,
    ascending: bool = True,
    tiebreaks: Sequence[str] = (),
    out_col: str = "ntile",
    num_bins: int = DEFAULT_BINS,
    persist: bool = True,
) -> DataFrame:
    """Exact SQL ``NTILE(k)`` over one global order, without the global
    window."""
    return multi_global_ntile(
        df,
        [OrderSpec(key, ascending, tuple(tiebreaks), out_col)],
        k,
        num_bins=num_bins,
        persist=persist,
    )


def multi_global_ntile(
    df: DataFrame,
    specs: Sequence[OrderSpec],
    k: int,
    *,
    num_bins: int = DEFAULT_BINS,
    persist: bool = True,
    small_threshold: int = SMALL_KEY_THRESHOLD,
) -> DataFrame:
    """Exact ``NTILE(k)`` for SEVERAL global orderings over the same
    frame (the RFM shape: recency/frequency/monetary quartiles). Below
    ``small_threshold`` rows, one bounded key collect turns every
    ordering into a literal bucket comparison (``_try_small_ntile_exprs``).
    Otherwise, or when that path bails, TWO driver actions total: all
    sort keys are probed in a single multi-column ``approxQuantile``
    pass, the per-ordering bin counts are STACKED into one aggregation
    job, and the rank plumbing (literal offsets + partitioned windows)
    composes lazily into one final plan."""
    # one Py4J analysis round for all sort keys, not one per spec
    base = df.withColumns({f"_sk{i}": s.sort_key() for i, s in enumerate(specs)})
    # probe the gate BEFORE persisting: the persisted plan's
    # InMemoryRelation leaf always fails small_scan
    bounded = small_scan(base, max_rows=small_threshold)
    if persist:
        base = cache.track(base)
    sk_names = [f"_sk{i}" for i in range(len(specs))]
    # literal bucket-boundary comparison — no pid windows, no
    # per-ordering shuffle (the dominant job count of this shape)
    lit_exprs = _try_small_ntile_exprs(
        base, specs, k, gate=small_threshold, known_bounded=bounded
    )
    if lit_exprs is not None:
        return base.withColumns(
            {spec.out_col: ex for spec, ex in zip(specs, lit_exprs)}
        ).drop(*sk_names)
    nb = max(2, num_bins)
    all_cuts = base.stat.approxQuantile(
        sk_names, [i / nb for i in range(1, nb)], _APPROX_EPS
    )
    out = base.withColumns(
        {
            f"_pid{i}": _pid_expr(f"_sk{i}", cuts, specs[i].ascending)
            for i, cuts in enumerate(all_cuts)
        }
    )
    # one job for ALL orderings' bin counts: stack (ordering, pid) pairs
    stacked = out.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("_w"), F.col(f"_pid{i}").alias("_pid"))
                    for i in range(len(specs))
                ]
            )
        ).alias("s")
    ).select("s._w", "s._pid")
    rows = stacked.groupBy("_w", "_pid").agg(F.count(F.lit(1)).alias("_cnt")).collect()
    for i, s in enumerate(specs):
        stats = _BinStats(_n_pids(all_cuts[i]), [r for r in rows if r["_w"] == i], ())
        out = _attach_rank(out, i, s, stats, f"_gr{i}")
        out = out.withColumn(
            s.out_col, _ntile_from_rank(F.col(f"_gr{i}"), stats.n, k)
        ).drop(f"_gr{i}")
    return out
