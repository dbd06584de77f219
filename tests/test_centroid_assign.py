"""Nearest-centroid assignment + hard-negative mining (r9 additions).

The corpus-level oracle gate (test_corpus_oracle / the driver) pins the
end-to-end values; these tests pin the OPERATOR contract — kernel argmax
parity with the exhaustive sequential-fold scan, NULL-score semantics,
tie-breaks, codebook validation — and the query-level edges the fixed
dataset never exercises (all-NULL labels, single-cell corpora).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.corpus._util import py_dround
from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
    assign_nearest_centroid,
    collect_centroids,
    fold_cosine,
)

CENTS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0, 0.0]),
    (2, [0.7, 0.7, 0.0, 0.0]),
]


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )


def test_assign_matches_exhaustive_fold(spark):
    """Kernel argmax (BLAS pre-rank + margin fold re-score) must equal the
    exhaustive per-row fold argmax under (6-dp round DESC, label ASC) —
    the ordering every IVF-family oracle uses."""
    import random

    rng = random.Random(7)
    rows = [
        (i, rng.randrange(3), [rng.uniform(-1, 1) for _ in range(4)])
        for i in range(200)
    ]
    out = {
        r["vec_id"]: (r["assigned_label"], r["centroid_cosine"])
        for r in assign_nearest_centroid(_emb(spark, rows), CENTS).collect()
    }
    for vid, _, vec in rows:
        want = min(
            (
                (-py_dround(c, 6), lab, c)
                for lab, cv in CENTS
                if (c := fold_cosine(vec, cv)) is not None
            ),
            default=None,
        )
        got_lab, got_cos = out[vid]
        assert got_lab == want[1], f"vec {vid}: {got_lab} != {want[1]}"
        assert got_cos == -want[0]


def test_assign_null_zero_wrongwidth_get_null(spark):
    rows = [
        (0, 0, [1.0, 0.1, 0.0, 0.0]),
        (1, 0, None),
        (2, 0, [0.0, 0.0, 0.0, 0.0]),
        (3, 0, [1.0, 0.0]),
    ]
    got = {
        r["vec_id"]: r["assigned_label"]
        for r in assign_nearest_centroid(_emb(spark, rows), CENTS).collect()
    }
    assert got[0] == 0
    assert got[1] is None and got[2] is None and got[3] is None


def test_assign_exclude_own_label(spark):
    rows = [
        (0, 0, [1.0, 0.05, 0.0, 0.0]),  # nearest is cell 0 = own → excluded
        (1, None, [1.0, 0.05, 0.0, 0.0]),  # NULL label: nothing excluded
    ]
    got = {
        r["vec_id"]: r["assigned_label"]
        for r in assign_nearest_centroid(
            _emb(spark, rows), CENTS, exclude_label_col="label"
        ).collect()
    }
    assert got[0] == 2  # next-nearest foreign cell
    assert got[1] == 0  # NULL own label excludes nothing


def test_assign_tie_breaks_to_smaller_label(spark):
    dup = [(5, [1.0, 0.0]), (9, [1.0, 0.0])]  # identical centroids
    rows = [(0, 1, [0.6, 0.4])]
    r = assign_nearest_centroid(
        spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>"),
        dup,
    ).collect()[0]
    assert r["assigned_label"] == 5


def test_assign_rounded_is_dround_of_raw(spark):
    rows = [(i, 0, [0.1 * i + 0.3, 1.0, 0.2, 0.0]) for i in range(20)]
    for r in assign_nearest_centroid(_emb(spark, rows), CENTS).collect():
        assert r["centroid_cosine"] == py_dround(r["centroid_cosine_raw"], 6)


def test_assign_codebook_validation(spark):
    df = _emb(spark, [(0, 0, [1.0, 0.0, 0.0, 0.0])])
    with pytest.raises(ValueError, match="empty codebook"):
        assign_nearest_centroid(df, [])
    with pytest.raises(ValueError, match="ragged codebook"):
        assign_nearest_centroid(df, [(0, [1.0, 0.0]), (1, [1.0, 0.0, 0.0])])


def test_collect_centroids_skips_null_labels(spark):
    rows = [
        (0, 0, [2.0, 0.0]),
        (1, 0, [0.0, 2.0]),
        (2, None, [9.0, 9.0]),
    ]
    cents = collect_centroids(_emb(spark, rows))
    assert cents == [(0, [1.0, 1.0])]


def test_hard_negative_labels_differ_and_pool_membership(spark, sf_dir):
    from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
        REGISTRY,
        _ensure_loaded,
    )
    from us_weather_energy_analysis_pipeline_spark.corpus.similarity_q import (
        NEG_POOL_K,
    )

    _ensure_loaded()
    out = REGISTRY["embed_hard_negative_mine"].spark_fn(spark, sf_dir).collect()
    assert out, "fixed corpus must mine at least one negative"
    emb_label = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    per_cell: dict[int, set[int]] = {}
    for r in out:
        assert r["neg_label"] != r["label"]
        assert emb_label[r["neg_vec_id"]] == r["neg_label"]
        per_cell.setdefault(r["neg_label"], set()).add(r["neg_vec_id"])
    for cell, vids in per_cell.items():
        assert len(vids) <= NEG_POOL_K, f"cell {cell} pool exceeds K"


def test_new_embed_queries_all_null_labels_empty(spark, tmp_path):
    """Fuzz edge the fixed dataset never hits: every label NULL → no
    cells → both queries return EMPTY frames with the declared schema
    (the oracle side returns empty too: cvec/cent CTEs filter NULL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
        REGISTRY,
        _ensure_loaded,
    )

    _ensure_loaded()
    tbl = pa.table(
        {
            "vec_id": pa.array([0, 1], pa.int64()),
            "embedding": pa.array(
                [[1.0, 0.0], [0.0, 1.0]], pa.list_(pa.float32())
            ),
            "label": pa.array([None, None], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    for name in (
        "embed_nearest_centroid_assign",
        "embed_hard_negative_mine",
        "embed_kmeans_round",
    ):
        df = REGISTRY[name].spark_fn(spark, str(tmp_path))
        assert df.count() == 0, name
        assert len(df.columns) >= 4, name


def test_new_embed_query_plan_shapes(spark, sf_dir):
    """Pin the r9 kernel-plan shapes (the class of regression that cost
    2.1 s interpreted eval / a 25 MiB task binary before the rewrite):

    - embed_hard_negative_mine: ZERO exchanges in the main query plan —
      scan (both null filters PUSHED) → ONE MapInPandas → filter/project
      (codebook + pool are separate bounded driver jobs);
    - embed_nearest_centroid_assign: exactly one Exchange — the
      ≤ n_cells² confusion aggregate above the kernel."""
    from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
        REGISTRY,
        _ensure_loaded,
    )

    _ensure_loaded()

    def fmt(name):
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    import re

    def nodes(plan, name):
        # one "(n) NodeName" detail line per physical node (the tree
        # section repeats the name, so plain substring counts double)
        return len(re.findall(rf"\n\(\d+\) {name}\b", plan))

    mine = fmt("embed_hard_negative_mine")
    assert nodes(mine, "MapInPandas") == 1
    assert nodes(mine, "Exchange") == 0 and nodes(mine, "ShuffleExchange") == 0
    assert "PushedFilters: [IsNotNull(embedding), IsNotNull(label)]" in mine

    assign = fmt("embed_nearest_centroid_assign")
    assert nodes(assign, "MapInPandas") == 1
    assert nodes(assign, "Exchange") == 1


def test_json_props_rollup_adversarial_payloads(spark, tmp_path):
    """Pin the cross-engine k-extraction contract on payload shapes the
    fixed dataset never contains (review r9): quoted numbers, floats,
    booleans, arrays, out-of-range ints, missing key, malformed JSON,
    NULL — Spark's from_json('k BIGINT') and the oracle's
    json_type-guarded TRY_CAST must agree on every one (a bare
    TRY_CAST(json_extract_string(...)) coerces '123' and rounds 1.5)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
        REGISTRY,
        _ensure_loaded,
    )
    from us_weather_energy_analysis_pipeline_spark.testing import diff_report

    _ensure_loaded()
    payloads = [
        '{"k": 69}', '{"k": "123"}', '{"k": 1.5}', '{"k": -4}',
        '{"k": null}', '{"j": 1}', "not json", None,
        '{"k": 99999999999999999999}', '{"k": true}', '{"k": [1]}',
    ]
    n = len(payloads)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([None] * n, pa.timestamp("us")),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["view", "click"] * (n // 2) + ["view"]),
            "value": pa.array([1.0] * n),
            "props": pa.array(payloads),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    q = REGISTRY["json_props_rollup"]
    sdf = q.spark_fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    odf = con.execute(q.oracle).fetchdf()
    assert diff_report(sdf, odf) is None


def _write_embeddings(tmp_path, rows, dim):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[2] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[1] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))


def _oracle_parity(spark, tmp_path, names):
    import duckdb

    from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
        REGISTRY,
        _ensure_loaded,
    )
    from us_weather_energy_analysis_pipeline_spark.testing import diff_report

    _ensure_loaded()
    con = duckdb.connect()
    con.execute(
        "CREATE OR REPLACE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    out = {}
    for name in names:
        sdf = REGISTRY[name].spark_fn(spark, str(tmp_path)).toPandas()
        odf = con.execute(REGISTRY[name].oracle).fetchdf()
        assert diff_report(sdf, odf) is None, name
        out[name] = sdf
    return out


def test_zero_norm_centroid_cell_excluded_both_engines(spark, tmp_path):
    """ADVICE r9: a cell whose members are ALL zero vectors folds to an
    exactly-zero centroid. The kernel NaN-excludes it while DuckDB's
    list_cosine_similarity scores it -1.0 — the oracle cvec CTEs now
    filter zero-norm centroids, so both engines skip the cell and the
    results stay hash-identical (previously the oracle kept it as a
    last-ranked candidate, diverging when it was the ONLY candidate)."""
    rows = [
        (0, 0, [0.0, 0.0, 0.0, 0.0]),
        (1, 0, [0.0, 0.0, 0.0, 0.0]),
        (2, 1, [1.0, 0.0, 0.0, 0.0]),
        (3, 1, [0.9, 0.1, 0.0, 0.0]),
        (4, 2, [0.0, 1.0, 0.0, 0.0]),
        (5, 2, [0.1, 0.9, 0.0, 0.0]),
    ]
    _write_embeddings(tmp_path, rows, 4)
    out = _oracle_parity(
        spark,
        tmp_path,
        ("embed_nearest_centroid_assign", "embed_hard_negative_mine"),
    )
    assign = out["embed_nearest_centroid_assign"]
    assert len(assign) > 0
    assert 0 not in set(assign["assigned_label"])  # zero cell never wins
    mine = out["embed_hard_negative_mine"]
    assert len(mine) > 0
    assert 0 not in set(mine["neg_label"])


def test_hard_negative_mine_non64_width_returns_rows(spark, tmp_path):
    """ADVICE r9: the pool's zero-norm prune must derive its flat-dot
    width from the collected codebook, not the EMBED_DIM=64 constant —
    with the constant, a 4-wide corpus NULLed every _sq and the query
    silently returned 0 rows while the width-agnostic oracle didn't."""
    import random

    rng = random.Random(11)
    rows = [
        (i, i % 3, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(30)
    ]
    _write_embeddings(tmp_path, rows, 4)
    out = _oracle_parity(spark, tmp_path, ("embed_hard_negative_mine",))
    assert len(out["embed_hard_negative_mine"]) == 30


# ---------------------------------------------------------------------------
# embed_kmeans_round (r14): one end-to-end Lloyd iteration — oracle parity
# plus the convergence-step properties (VERDICT r13 task 3)
# ---------------------------------------------------------------------------


def _lloyd_round(df, cents):
    """One Lloyd iteration via the public operators (the exact composition
    ``embed_kmeans_round`` runs): assign → per-cell mean update. Returns
    ({vec_id: assigned_label}, new codebook) so tests can ITERATE —
    convergence claims need round t+1 seeded from round t's output."""
    assigned = assign_nearest_centroid(df, cents, carry_vec=True).filter(
        F.col("assigned_label").isNotNull()
    )
    amap = {
        r["vec_id"]: r["assigned_label"]
        for r in assigned.select("vec_id", "assigned_label").collect()
    }
    new_cents = collect_centroids(
        assigned, label_col="assigned_label", vec_col="embedding"
    )
    return amap, new_cents


def _codebook_shift(old, new):
    import math

    om = dict(old)
    return {
        lab: math.sqrt(sum((a - b) * (a - b) for a, b in zip(vec, om[lab])))
        for lab, vec in new
        if lab in om
    }


def test_kmeans_round_fixed_point_and_oracle_parity(spark, tmp_path):
    """Fixed-point property: when every point lies ON its cell's axis
    (cosine to the seed centroid is exactly 1, 0 to every other cell),
    the assignment reproduces the labeling, the updated mean equals the
    seed, and the emitted shift is exactly 0.0 — Lloyd's termination
    state. Checked through the full registered query AND its DuckDB
    oracle (the parity gate), not just the operators."""
    rows = [  # axis-aligned cells, varying norms (cosine is scale-blind)
        (0, 0, [1.0, 0.0, 0.0, 0.0]),
        (1, 0, [3.0, 0.0, 0.0, 0.0]),
        (2, 1, [0.0, 2.0, 0.0, 0.0]),
        (3, 1, [0.0, 5.0, 0.0, 0.0]),
        (4, 2, [0.0, 0.0, 4.0, 0.0]),
        (5, 2, [0.0, 0.0, 0.5, 0.0]),
    ]
    _write_embeddings(tmp_path, rows, 4)
    out = _oracle_parity(spark, tmp_path, ("embed_kmeans_round",))
    res = out["embed_kmeans_round"].set_index("assigned_label")
    assert sorted(res.index) == [0, 1, 2]
    assert list(res["n"]) == [2, 2, 2]
    assert all(res["shift"] == 0.0)


def test_kmeans_round_converges_once_assignments_stabilize(spark):
    """Convergence-step property on well-separated noisy clusters: round 1
    assigns every point to its generating cluster; because round 2 sees
    the SAME assignment under the updated codebook, its mean update is a
    no-op and the shift collapses to ~0 (float-reassociation dust only).
    This is exactly the termination criterion of the iterative IVF /
    SemDeDup codebook build that ``embed_kmeans_round`` summarizes."""
    import numpy as np

    for seed in (7, 23, 91):
        rng = np.random.default_rng(seed)
        k, per, dim = 3, 20, 8
        rows = []
        for lab in range(k):
            center = np.zeros(dim)
            center[lab] = 10.0
            pts = center + rng.normal(0.0, 0.1, size=(per, dim))
            rows += [
                (lab * per + i, lab, [float(x) for x in pts[i]])
                for i in range(per)
            ]
        df = _emb(spark, rows)
        seeds = collect_centroids(df)
        a1, c1 = _lloyd_round(df, seeds)
        assert a1 == {vid: lab for vid, lab, _ in rows}, f"seed {seed}"
        a2, c2 = _lloyd_round(df, c1)
        assert a2 == a1, f"seed {seed}: assignments moved under new codebook"
        shift2 = _codebook_shift(c1, c2)
        assert max(shift2.values()) < 1e-9, f"seed {seed}: {shift2}"


def test_kmeans_round_plan_shape(spark, sf_dir):
    """Pin the r14 query's physical shape: a LINEAR plan — ONE
    MapInPandas pass (fused assign + update partials), exactly TWO
    shuffle exchanges (both bounded by n_cells × dim — the per-dim
    partial fold and the final per-cell shift fold), NO join subtree
    (the old codebook is a constant-folded literal-array lookup), and
    the corpus scan pruned to the embedding column alone — label feeds
    only the separate bounded codebook job."""
    import re

    from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
        REGISTRY,
        _ensure_loaded,
    )

    _ensure_loaded()
    df = REGISTRY["embed_kmeans_round"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    def nodes(name):
        # one "(n) NodeName" detail line per physical node (the tree
        # section repeats the name, so plain substring counts double)
        return len(re.findall(rf"\n\(\d+\) {name}\b", plan))

    assert nodes("MapInPandas") == 1
    assert nodes("Exchange") == 2, plan
    assert nodes("BroadcastExchange") == 0
    assert nodes("BroadcastHashJoin") == 0 and "Join" not in plan
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "label" not in scan and "vec_id" not in scan and "embedding" in scan


def test_update_partials_fold_equals_per_row_update(spark):
    """emit_update_partials parity: folding the in-kernel (cnt, vsum)
    partials per cell must reproduce the per-row assignment's groupwise
    counts and means exactly (same rows, same batch-local summation),
    and the mode must reject the per-row-output options."""
    import random

    import numpy as np

    rng = random.Random(11)
    rows = [
        (i, rng.randrange(3), [rng.uniform(-1, 1) for _ in range(4)])
        for i in range(300)
    ] + [(300, 0, None), (301, 1, [0.0, 0.0, 0.0, 0.0])]  # NULL/zero-norm
    df = _emb(spark, rows)

    per_row = assign_nearest_centroid(df, CENTS, carry_vec=True).filter(
        F.col("assigned_label").isNotNull()
    )
    want: dict[int, tuple[int, np.ndarray]] = {}
    for r in per_row.collect():
        c, v = want.get(r["assigned_label"], (0, np.zeros(4)))
        want[r["assigned_label"]] = (
            c + 1,
            v + np.asarray(r["embedding"], dtype=np.float64),
        )

    got: dict[int, tuple[int, np.ndarray]] = {}
    for r in assign_nearest_centroid(
        df, CENTS, emit_update_partials=True
    ).collect():
        c, v = got.get(r["assigned_label"], (0, np.zeros(4)))
        got[r["assigned_label"]] = (
            c + r["cnt"],
            v + np.asarray(r["vsum"], dtype=np.float64),
        )

    assert set(got) == set(want)
    for lab in want:
        assert got[lab][0] == want[lab][0], lab
        assert np.allclose(got[lab][1], want[lab][1], rtol=0, atol=1e-12), lab

    with pytest.raises(ValueError, match="emit_update_partials"):
        assign_nearest_centroid(df, CENTS, emit_update_partials=True, carry_vec=True)
