"""As-of join edge semantics + ANN operator sanity."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.operators.asof import asof_join_backward


def test_asof_backward_semantics(spark):
    T = dt.datetime
    left = spark.createDataFrame(
        [
            (1, 10, T(2024, 1, 1, 9, 0)),   # before any right row → null
            (2, 10, T(2024, 1, 1, 10, 0)),  # exactly equal ts → matches (<=)
            (3, 10, T(2024, 1, 1, 12, 0)),  # after both → latest wins
            (4, 20, T(2024, 1, 1, 12, 0)),  # other key, no right rows → null
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, T(2024, 1, 1, 10, 0), 1.0), (10, T(2024, 1, 1, 11, 0), 2.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {
        r["event_id"]: r
        for r in asof_join_backward(left, right, ["user_id"], "ts", ["value"]).collect()
    }
    assert len(out) == 4
    assert out[1]["value_asof"] is None and out[1]["ts_asof"] is None
    assert out[2]["value_asof"] == 1.0  # ts == right ts → included
    assert out[3]["value_asof"] == 2.0
    assert out[3]["ts_asof"] == dt.datetime(2024, 1, 1, 11, 0)
    assert out[4]["value_asof"] is None
    # left columns preserved
    assert set(out[1].asDict()) == {"event_id", "user_id", "ts", "value_asof", "ts_asof"}


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_ann_variants_agree_with_brute_force(emb):
    """IVF/LSH results must be a subset of the brute-force candidate space
    and internally consistently ranked."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    bf = brute_force_topk(emb, q, k=100)
    bf_scores = {
        (r["qid"], r["vec_id"]): r["cosine"] for r in bf.collect()
    }
    for out in (ivf_topk(emb, q, k=3).collect(), lsh_topk(emb, q, k=3).collect()):
        for r in out:
            key = (r["qid"], r["vec_id"])
            if key in bf_scores:  # brute force truncated at 100; scores must agree
                assert r["cosine"] == pytest.approx(bf_scores[key], abs=1e-6)
        # ranks are 1..k dense per query
        by_q = {}
        for r in out:
            by_q.setdefault(r["qid"], []).append(r["rnk"])
        for ranks in by_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_lsh_bucket_determinism(emb):
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        hyperplanes,
        lsh_bucket_code,
    )

    planes = hyperplanes(6, 64)
    assert len(planes) == 6 and len(planes[0]) == 64
    assert planes == hyperplanes(6, 64)
    codes = emb.select(lsh_bucket_code("embedding", planes).alias("b")).collect()
    assert all(0 <= r["b"] < 64 for r in codes)


def test_cosine_pairs_blocked_matches_brute_force(emb, monkeypatch):
    """The block-pair filter-refine must return the exact all-pairs result
    regardless of block count — force several hash blocks (BLOCK_ROWS=7 on
    a ~60-row slice) so the i==j upper-triangle path AND the i<j
    min/max-normalization path are both exercised."""
    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        cosine,
        cosine_pairs_filter_refine,
    )

    monkeypatch.setattr(similarity, "BLOCK_ROWS", 7)
    sub = emb.filter(F.col("vec_id") < 60).select("vec_id", "embedding")
    thr = 0.2
    got = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in cosine_pairs_filter_refine(sub, thr).collect()
    }
    a = sub.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = sub.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine("_va", "_vb"))
        .filter(F.col("cosine") >= thr)
    )
    want = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9) for r in brute.collect()
    }
    assert got == want and len(want) > 0


def test_grouped_pairs_pathological_bucket(emb, monkeypatch):
    """Skew fixture: EVERY vector lands in one giant LSH bucket (constant
    group) with BLOCK_ROWS far below the bucket size — the pathological
    case the e2e embedding pipeline must survive without a single-task
    OOM. The bounded block-pair walk must still produce exactly the
    brute-force candidate set, and a second group must stay isolated
    (no cross-bucket pairs)."""
    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        grouped_candidate_pairs,
    )

    monkeypatch.setattr(similarity, "BLOCK_ROWS", 6)
    # group 7: ids 0..39 (the giant bucket); group 9: ids 40..49
    sub = emb.filter(F.col("vec_id") < 50).select(
        "vec_id",
        "embedding",
        F.when(F.col("vec_id") < 40, F.lit(7)).otherwise(F.lit(9)).alias("bkt"),
    )
    thr = 0.15
    got = {
        (r["id_a"], r["id_b"])
        for r in grouped_candidate_pairs(sub, thr, "bkt").collect()
    }
    rows = sub.select("vec_id", "embedding", "bkt").collect()
    import numpy as np

    by_g: dict = {}
    for r in rows:
        by_g.setdefault(r["bkt"], []).append((r["vec_id"], np.array(r["embedding"], dtype=np.float64)))
    want = set()
    for vecs in by_g.values():
        for i in range(len(vecs)):
            for j in range(i + 1, len(vecs)):
                ia, va = vecs[i]
                ib, vb = vecs[j]
                c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                if c >= thr - 1e-6:
                    want.add((min(ia, ib), max(ia, ib)))
    assert got == want and len(want) > 0
    # isolation: no pair spans the two groups
    g7 = {ia for ia, _ in by_g[7]} if 7 in by_g else set()
    for a, b in got:
        assert (a in g7) == (b in g7)


def test_exact_refine_bit_identical_to_sql_fold(spark, monkeypatch):
    """The in-task exact refine (the nested sequential fold inside
    grouped_candidate_pairs) must agree BIT-FOR-BIT with the SQL
    aggregate/zip_with fold it replaces — not approximately: the
    kept-pair decision at the threshold boundary depends on the exact
    double. Adversarial vectors: large magnitude spread so summation
    order matters (pairwise/BLAS summation WOULD diverge here). Tested
    THROUGH the operator so the covered code is the code that ships."""
    import struct

    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        cosine,
        cosine_pairs_filter_refine,
    )

    monkeypatch.setattr(similarity, "BLOCK_ROWS", 2)
    vecs = [
        [1e8, 1.0, -1e8, 1e-8, 3.0, 7.0],
        [2.0, 1e8, 5.0, -1e8, 1e-7, 1.0],
        [0.1, 0.2, 0.3, -0.4, 0.5, -0.6],
        [float(x % 7 - 3) for x in range(6)],
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"]): struct.pack("<d", r["cosine"])
        for r in cosine_pairs_filter_refine(df, -1.0).collect()
    }
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    want = {
        (r["id_a"], r["id_b"]): struct.pack("<d", r["c"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine("_va", "_vb").alias("c"))
        .collect()
    }
    assert set(got) == set(want) and len(want) == 6
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])


def test_grouped_pairs_string_group_key(emb, monkeypatch):
    """A string-typed bucket column (e.g. an md5-hex digest) must work —
    the r4 regression was cast(key AS long) nulling every non-numeric
    group so the null-unsafe pair join returned zero candidates
    silently."""
    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        grouped_candidate_pairs,
    )

    monkeypatch.setattr(similarity, "BLOCK_ROWS", 8)

    sub = emb.filter(F.col("vec_id") < 30).select(
        "vec_id",
        "embedding",
        F.when(F.col("vec_id") < 20, F.lit("bucket-a"))
        .otherwise(F.lit("bucket-b"))
        .alias("bkt"),
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in grouped_candidate_pairs(sub, 0.1, "bkt").collect()
    }
    assert len(got) > 0  # silent-empty is the regression
    # isolation still holds for string groups
    for a, b in got:
        assert (a < 20) == (b < 20)


def test_fp32_pack_path_matches_fp64(emb, monkeypatch):
    """array<float> input widens exactly to float64 in the block pack, so
    the blocked verifier must return IDENTICAL results — pair set and
    bit-level cosines — to feeding the same values as array<double>, for
    the one-group and the grouped entry point alike."""
    import struct

    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        cosine_pairs_filter_refine,
        grouped_candidate_pairs,
    )

    sub = emb.filter(F.col("vec_id") < 80).select("vec_id", "embedding")
    as64 = sub.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    def bits(df):
        return {
            (r["id_a"], r["id_b"]): struct.pack("<d", r["cosine"])
            for r in df.collect()
        }

    monkeypatch.setattr(similarity, "BLOCK_ROWS", 9)
    got32 = bits(cosine_pairs_filter_refine(sub, 0.2))
    assert got32 == bits(cosine_pairs_filter_refine(as64, 0.2)) and got32
    monkeypatch.setattr(similarity, "BLOCK_ROWS", 7)
    g = F.pmod(F.col("vec_id"), F.lit(3)).alias("bkt")
    c32 = bits(grouped_candidate_pairs(sub.select("vec_id", "embedding", g), 0.15, "bkt"))
    c64 = bits(grouped_candidate_pairs(as64.select("vec_id", "embedding", g), 0.15, "bkt"))
    assert c32 == c64 and c32


def test_asof_null_right_ts_never_matches(spark):
    """A right row with NULL ts can never satisfy r.ts <= l.ts (SQL ASOF
    never matches it), but an ASC sort would place it NULLS FIRST ahead
    of every left row — the operator must drop it, not adopt it as the
    'most recent' match (found by review after the null fuzz)."""
    import datetime as dt

    T = dt.datetime
    left = spark.createDataFrame(
        [(1, 10, T(2024, 1, 1, 9, 0))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, None, 5.0), (10, T(2024, 1, 1, 8, 0), 7.0)],
        "user_id long, ts timestamp, value double",
    )
    rows = asof_join_backward(left, right, ["user_id"], "ts", ["value"]).collect()
    assert len(rows) == 1
    assert rows[0]["value_asof"] == 7.0  # the real prior row, not the NULL-ts one
    # and with ONLY a NULL-ts right row: no match at all
    only_null = right.filter(F.col("ts").isNull())
    rows2 = asof_join_backward(left, only_null, ["user_id"], "ts", ["value"]).collect()
    assert rows2[0]["value_asof"] is None and rows2[0]["ts_asof"] is None


def test_topk_kernel_emits_exact_fold_scores(emb):
    """topk_candidates' in-task fold re-score must be bit-identical to
    the JVM dround(cosine(...), 6) expression for every emitted pair."""
    from us_weather_energy_analysis_pipeline_spark.corpus._util import r6
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        cosine,
        topk_candidates,
    )

    qinfo = [
        (r["vec_id"], list(r["embedding"]), None)
        for r in emb.filter(F.col("vec_id") < 4)
        .select("vec_id", "embedding")
        .collect()
    ]
    got = topk_candidates(emb, qinfo, 5).collect()
    assert {r["qid"] for r in got} == {q[0] for q in qinfo}
    pairs = [(r["qid"], r["vec_id"]) for r in got]
    a = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("_qv"))
    b = emb.select("vec_id", F.col("embedding").alias("_cv"))
    cond = F.lit(False)
    for qid, vid in pairs:
        cond = cond | ((F.col("qid") == qid) & (F.col("vec_id") == vid))
    jvm = {
        (r["qid"], r["vec_id"]): r["c"]
        for r in a.crossJoin(b)
        .filter(cond)
        .select("qid", "vec_id", r6(cosine("_qv", "_cv")).alias("c"))
        .collect()
    }
    for r in got:
        assert r["cosine"] == jvm[(r["qid"], r["vec_id"])], (r["qid"], r["vec_id"])


_RAGGED_ROWS = [
    (0, 0, [2.0, 4.0]),
    (1, 0, [6.0]),  # ragged: has no second dimension
    (2, 0, None),  # NULL vector
    (3, 1, []),  # empty vector
]


@pytest.mark.parametrize("name", ["embed_centroid_by_label", "embed_int8_quantize"])
def test_embedding_query_matches_oracle_on_ragged_null_empty(spark, tmp_path, name):
    """The vector queries' one native plan must equal their DuckDB oracle
    on NULL, ragged and empty vectors: a missing dimension reads NULL
    (never an out-of-bounds error under ANSI), a sum over an empty
    vector is NULL, and the 1e-12 scale floor of an empty vector
    (1.27e14) survives the 6-dp round."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
        REGISTRY,
        _ensure_loaded,
    )
    from us_weather_energy_analysis_pipeline_spark.testing import diff_report

    _ensure_loaded()

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in _RAGGED_ROWS], pa.int64()),
                "label": pa.array([r[1] for r in _RAGGED_ROWS], pa.int32()),
                "embedding": pa.array(
                    [r[2] for r in _RAGGED_ROWS], pa.list_(pa.float32())
                ),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    q = REGISTRY[name]
    got = q.spark_fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    want = con.execute(q.oracle).fetchdf()
    con.close()
    assert diff_report(got, want) is None, diff_report(got, want)


def test_fold_cosine_zero_norm_returns_none():
    """ADVICE r5: a zero-norm vector must yield a NULL score (the legacy
    JVM plan's NaN/NULL), never a ZeroDivisionError."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        fold_cosine,
    )

    assert fold_cosine([0.0, 0.0], [1.0, 2.0]) is None
    assert fold_cosine([1.0, 2.0], [0.0, 0.0]) is None
    assert fold_cosine([], []) is None
    assert fold_cosine([1.0, 0.0], [1.0, 0.0]) == 1.0


def test_ivf_topk_zero_norm_query_does_not_crash(spark):
    """A zero-norm query vector scores NULL against every centroid; the
    assignment must rank such cells last (not raise) and the query still
    probes a deterministic cell."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        ivf_topk,
    )
    from us_weather_energy_analysis_pipeline_spark.session import local_df

    corpus = local_df(
        spark,
        [(i, i % 2, [1.0 + i, float(i % 2)]) for i in range(8)],
        "vec_id long, label int, embedding array<float>",
    )
    q = local_df(
        spark,
        [(100, [0.0, 0.0]), (101, [1.0, 0.5])],
        "qid long, qv array<float>",
    )
    out = ivf_topk(corpus, q, k=2)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    # zero-norm query: every centroid scores NULL → ties broken by label
    # ASC → probes cell 0; its in-cell cosines are NULL too (NULLS LAST
    # ranking still yields dense ranks).
    assert {r["cell"] for r in by_q[100]} == {0}
    assert all(r["cosine"] is None for r in by_q[100])
    assert sorted(r["rnk"] for r in by_q[100]) == [1, 2]
    assert all(r["cosine"] is not None for r in by_q[101])


def test_topk_candidates_ragged_batch_falls_back_to_exact_fold(spark):
    """A ragged corpus batch (mixed dims) must not crash the BLAS kernel;
    rows matching the query width keep their exact fold scores, mismatched
    widths score NULL (legacy zip_with NULL-padding semantics)."""
    from us_weather_energy_analysis_pipeline_spark.corpus._util import py_dround
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        fold_cosine,
        topk_candidates,
    )
    from us_weather_energy_analysis_pipeline_spark.session import local_df

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.6, 0.8]),
        (3, [1.0, 1.0, 1.0]),  # ragged → vstack fails → per-row fold
        (4, [0.0, 1.0]),
    ]
    corpus = local_df(spark, rows, "vec_id long, embedding array<float>")
    qv = [1.0, 0.0]
    out = topk_candidates(corpus, [(99, qv, None)], k=4).collect()
    got = {r["vec_id"]: r["cosine"] for r in out}
    assert got[1] == py_dround(fold_cosine([1.0, 0.0], qv), 6)
    assert got[2] == py_dround(fold_cosine([0.6, 0.8], qv), 6)
    assert got[3] is None  # width mismatch → NULL score, ranked last
    ranks = {r["vec_id"]: r["rnk"] for r in out}
    assert ranks[1] == 1 and ranks[3] == 4


def test_asof_same_source_equals_two_frame_operator(spark, sf_dir):
    """r6 single-scan variant: identical output to asof_join_backward on
    the two filtered frames, on real data AND with a null-ts right row."""
    from us_weather_energy_analysis_pipeline_spark.corpus.registry import load
    from us_weather_energy_analysis_pipeline_spark.operators.asof import (
        asof_backward_same_source,
        asof_join_backward,
    )

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    want = {
        r["event_id"]: (r["ts_asof"], r["value_asof"])
        for r in asof_join_backward(
            purchases, views, ["user_id"], "ts", ["value"]
        ).collect()
    }
    got = {
        r["event_id"]: (r["ts_asof"], r["value_asof"])
        for r in asof_backward_same_source(
            e,
            ["user_id"],
            "ts",
            F.col("event_type") == "purchase",
            F.col("event_type") == "view",
            ["event_id", "user_id", "ts"],
            ["value"],
        ).collect()
    }
    assert got == want and len(got) > 0


def test_asof_same_source_null_ts_right_dropped(spark):
    import datetime as _dt

    from us_weather_energy_analysis_pipeline_spark.operators.asof import (
        asof_backward_same_source,
    )

    rows = [
        (1, 10, _dt.datetime(2024, 1, 1, 12), "p", None),
        (2, 10, None, "v", 5.0),  # null-ts view: never matches
        (3, 10, _dt.datetime(2024, 1, 1, 11), "v", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    out = asof_backward_same_source(
        df,
        ["user_id"],
        "ts",
        F.col("event_type") == "p",
        F.col("event_type") == "v",
        ["event_id", "user_id", "ts"],
        ["value"],
    ).collect()
    assert len(out) == 1
    assert out[0]["value_asof"] == 7.0


def test_asof_same_source_overlap_both_matches_two_frame(spark):
    """ADVICE r6: with OVERLAPPING predicates the default single tag marks
    a both-row left-only (never a right carry) — overlap='both' must
    reproduce asof_join_backward on the two filtered frames exactly."""
    import datetime as _dt

    from us_weather_energy_analysis_pipeline_spark.operators.asof import (
        asof_backward_same_source,
        asof_join_backward,
    )

    dt = _dt.datetime
    rows = [
        # value>=1 is "left", value>=2 is "right": rows 2,3,5 satisfy both
        (1, 10, dt(2024, 1, 1, 9), 1.0),
        (2, 10, dt(2024, 1, 1, 10), 2.0),
        (3, 10, dt(2024, 1, 1, 11), 3.0),
        (4, 11, dt(2024, 1, 1, 9), 1.0),
        (5, 11, dt(2024, 1, 1, 10), 5.0),
        (6, 12, dt(2024, 1, 1, 9), 1.5),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    lp, rp = F.col("value") >= 1.0, F.col("value") >= 2.0
    want = {
        r["event_id"]: (r["ts_asof"], r["value_asof"])
        for r in asof_join_backward(
            df.filter(lp).select("event_id", "user_id", "ts"),
            df.filter(rp).select("user_id", "ts", "value"),
            ["user_id"],
            "ts",
            ["value"],
        ).collect()
    }
    got = {
        r["event_id"]: (r["ts_asof"], r["value_asof"])
        for r in asof_backward_same_source(
            df,
            ["user_id"],
            "ts",
            lp,
            rp,
            ["event_id", "user_id", "ts"],
            ["value"],
            overlap="both",
        ).collect()
    }
    assert got == want and len(got) == 6
    # a both-row carries ITSELF (r.ts <= l.ts includes equality)
    assert got[2] == (dt(2024, 1, 1, 10), 2.0)
    # the left-only row sees the earlier both-row as its carry
    assert got[6] == (None, None)

    with pytest.raises(ValueError, match="overlap"):
        asof_backward_same_source(
            df, ["user_id"], "ts", lp, rp,
            ["event_id", "user_id", "ts"], ["value"], overlap="bogus",
        )


def test_ragged_embeddings_fail_with_actionable_error(spark):
    """r7 ragged-embedding fuzz: mixed vector lengths must raise a clear
    dimensionality error (both engines define similarity only over
    uniform dims — DuckDB's list_* reject mixed lengths outright), not an
    opaque numpy inhomogeneous-shape worker traceback."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        cosine_pairs_filter_refine,
        topk_candidates,
    )

    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="uniform dimensionality"):
        cosine_pairs_filter_refine(emb, 0.1).collect()
    with pytest.raises(ValueError, match="uniform dimensionality"):
        # ragged QUERY block fails driver-side before any job runs
        topk_candidates(emb, [(0, [1.0, 0.0, 0.0], None), (2, [1.0, 0.0], None)], 2)


def test_query_block_gate_bounds_driver_collect(emb, spark, monkeypatch):
    """VERDICT r7 + r8 task 5: the query-side collects in brute/IVF/LSH
    top-k must be gated like rangejoin's inline path — limit(threshold+1)
    — so an over-threshold query table NEVER lands on the driver
    unbounded. Every entry point now falls back to a fully distributed
    plan (no ValueError, no further driver collect): brute force to the
    broadcast-join plan, IVF/LSH/multiprobe to in-plan probe
    assignment."""
    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        _collect_query_block,
        brute_force_topk,
        ivf_topk,
        lsh_multiprobe_topk,
        lsh_topk,
    )

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    # the gate itself: never returns more rows than the bound allows
    assert _collect_query_block(q, ["qid", "qv"], 2) is None
    got = _collect_query_block(q, ["qid", "qv"], 5)
    assert got is not None and len(got) == 5

    # structural proof of boundedness: the only driver collect on the
    # over-gate path is the gate probe itself, which goes through
    # DataFrame.limit(threshold+1) — patch limit AND collect to record
    # every call; constructing the four fallbacks must show exactly one
    # limited probe each and NO unlimited collect.
    seen_limits: list[int] = []
    seen_collects: list[int] = []
    cls = type(q)  # the CONCRETE DataFrame class (pyspark 4: classic.DataFrame)

    orig_limit = cls.limit
    orig_collect = cls.collect

    def spy_limit(self, n):
        seen_limits.append(n)
        return orig_limit(self, n)

    def spy_collect(self):
        seen_collects.append(1)
        return orig_collect(self)

    cls.limit = spy_limit
    cls.collect = spy_collect
    try:
        with monkeypatch.context() as m:
            m.setattr(similarity, "QUERY_BLOCK_MAX", 3)
            fb_ivf = ivf_topk(emb, q, k=2)
            fb_lsh = lsh_topk(emb, q, k=2)
            fb_mp = lsh_multiprobe_topk(emb, q, k=2, n_probes=2)
            fb = brute_force_topk(emb, q, k=4)
    finally:
        cls.limit = orig_limit
        cls.collect = orig_collect
    assert seen_limits.count(4) == 4  # every gated path limited to t+1
    # one gated probe collect per entry point, nothing else (the old IVF
    # kernel path collected centroids; the fallback must not)
    assert len(seen_collects) == 4

    # fallback plans execute and rank like their kernel twins (full value
    # parity is asserted in test_ann_over_gate_fallbacks_match_kernel)
    for fbdf in (fb_ivf, fb_lsh, fb_mp):
        assert fbdf.columns[-2:] == ["cosine", "rnk"]

    # brute-force fallback: values identical to the kernel path
    kern = brute_force_topk(emb, q, k=4)  # default threshold: kernel path
    kern_rows = sorted(
        (r["qid"], r["vec_id"], r["cosine"], r["rnk"]) for r in kern.collect()
    )
    fb_rows = sorted(
        (r["qid"], r["vec_id"], r["cosine"], r["rnk"]) for r in fb.collect()
    )
    assert fb_rows == kern_rows
    assert similarity.QUERY_BLOCK_MAX >= 1024  # default stays generous


def test_ann_over_gate_fallbacks_match_kernel(emb, spark, monkeypatch):
    """VERDICT r8 task 5: the distributed over-gate plans for IVF / LSH /
    multi-probe LSH must emit exactly the kernel path's rows — same probe
    choice (fold-identical dots, 6-dp margins, label/plane tie-breaks),
    same scores, same ranks, same schema."""
    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        ivf_topk,
        lsh_multiprobe_topk,
        lsh_topk,
    )

    q = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    for fn, kwargs in (
        (ivf_topk, {"k": 3}),
        (ivf_topk, {"k": 3, "n_probes": 2}),
        (lsh_topk, {"k": 3}),
        (lsh_multiprobe_topk, {"k": 3, "n_probes": 3}),
    ):
        kern = fn(emb, q, **kwargs)
        with monkeypatch.context() as m:
            m.setattr(similarity, "QUERY_BLOCK_MAX", 5)
            fb = fn(emb, q, **kwargs)
        # names + dtypes (nullability legitimately differs: mapInPandas
        # declares everything nullable, the join plan derives it)
        assert fb.dtypes == kern.dtypes, (fn.__name__, kwargs)
        kr = sorted(map(tuple, kern.collect()))
        fr = sorted(map(tuple, fb.collect()))
        assert fr == kr, (fn.__name__, kwargs)


def test_lsh_multiprobe_flip_count_validated(emb):
    """VERDICT r8 task 8: single-bit flips give at most n_planes + 1
    distinct probes; a larger n_probes used to silently truncate to the
    same probe set — it must raise instead."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        lsh_multiprobe_topk,
    )

    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    # cap is inclusive: n_planes + 1 probes is the full single-bit set
    lsh_multiprobe_topk(emb, q, n_planes=6, k=2, n_probes=7)
    with pytest.raises(ValueError, match=r"n_probes must be in \[1, 7\]"):
        lsh_multiprobe_topk(emb, q, n_planes=6, k=2, n_probes=8)


def test_brute_force_fallback_null_and_zero_norm_parity(spark, monkeypatch):
    """The distributed fallback must keep the kernel's edge semantics:
    NULL corpus vectors -> NULL cosine (ranked last), zero-norm vectors
    -> NULL cosine (0/0 must not become NaN, which Spark's DESC would
    rank FIRST), NULL ids dropped, id == qid excluded."""
    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )
    from us_weather_energy_analysis_pipeline_spark.session import local_df

    corpus = local_df(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, None),            # NULL vector -> NULL cosine, still emitted
            (4, [0.0, 0.0]),      # zero norm -> NULL cosine, not NaN
            (None, [1.0, 1.0]),   # NULL id -> dropped
            (5, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = local_df(
        spark, [(1, [1.0, 0.0]), (9, [0.5, 0.5])], "qid long, qv array<double>"
    )
    kern = brute_force_topk(corpus, q, k=10)
    monkeypatch.setattr(similarity, "QUERY_BLOCK_MAX", 1)  # force fallback
    fb = brute_force_topk(corpus, q, k=10)
    kr = sorted((r["qid"], r["vec_id"], r["cosine"], r["rnk"]) for r in kern.collect())
    fr = sorted((r["qid"], r["vec_id"], r["cosine"], r["rnk"]) for r in fb.collect())
    assert kr == fr
    # NULL-id row never appears; self-pair excluded; NULL cosines rank last
    ids_for_q1 = [r for r in kr if r[0] == 1]
    assert all(r[1] is not None and r[1] != 1 for r in ids_for_q1)
    null_rnks = [r[3] for r in ids_for_q1 if r[2] is None]
    real_rnks = [r[3] for r in ids_for_q1 if r[2] is not None]
    assert null_rnks and real_rnks and min(null_rnks) > max(real_rnks)


def test_ivf_lsh_fallback_null_and_zero_norm_parity(spark, monkeypatch):
    """The r9 distributed IVF/LSH/multiprobe fallbacks must keep the
    kernel paths' edge semantics: NULL query vectors dropped, NULL ids
    dropped, zero-norm vectors score NULL (never NaN), self-pairs
    excluded, NULL corpus vectors handled per family (IVF emits them
    with NULL cosine when their cell matches; LSH drops them at entry).
    """
    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        ivf_topk,
        lsh_multiprobe_topk,
        lsh_topk,
    )
    from us_weather_energy_analysis_pipeline_spark.session import local_df

    corpus = local_df(
        spark,
        [
            (1, [1.0, 0.0], 0),
            (2, [0.9, 0.1], 0),
            (3, None, 0),          # NULL vector
            (4, [0.0, 0.0], 1),    # zero norm
            (None, [1.0, 1.0], 0),  # NULL id -> dropped
            (5, [0.0, 1.0], 1),
            (6, [0.2, 0.8], None),  # NULL label -> never a candidate (IVF)
        ],
        "vec_id long, embedding array<double>, label int",
    )
    q = local_df(
        spark,
        [(1, [1.0, 0.0]), (9, [0.5, 0.5]), (10, None), (None, [1.0, 0.0])],
        "qid long, qv array<double>",
    )
    for fn, kwargs in (
        (ivf_topk, {"k": 5}),                 # fold-scored fallback
        (ivf_topk, {"k": 5, "dim": 2}),       # flat codegen fallback
        (ivf_topk, {"k": 5, "n_probes": 2, "dim": 2}),
        (lsh_topk, {"k": 5, "n_planes": 3, "dim": 2}),
        (lsh_multiprobe_topk, {"k": 5, "n_planes": 3, "dim": 2, "n_probes": 2}),
    ):
        kern = fn(corpus, q, **kwargs)
        with monkeypatch.context() as m:
            m.setattr(similarity, "QUERY_BLOCK_MAX", 1)
            fb = fn(corpus, q, **kwargs)
        kr = sorted(map(tuple, kern.collect()))
        fr = sorted(map(tuple, fb.collect()))
        assert kr == fr, (fn.__name__, kwargs)
        # NULL qid / NULL qvec rows emit nothing; no self-pairs
        assert all(r[0] in (1, 9) for r in kr), (fn.__name__, kwargs)
        assert all(
            r[2] is not None and r[2] != r[0] for r in kr
        ), (fn.__name__, kwargs)
        # no NaN scores anywhere (zero-norm must surface as NULL)
        assert all(
            r[3] is None or r[3] == r[3] for r in kr
        ), (fn.__name__, kwargs)


def test_lsh_multiprobe_recall_supersets_single_probe(emb):
    """n_probes=2 must (a) never lose a single-probe candidate, (b) agree
    with brute force on every emitted score, and (c) raise recall against
    the exact top-k on this corpus (the whole point of probing the
    nearest-boundary neighbor bucket)."""
    from pyspark.sql import functions as F

    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        brute_force_topk,
        lsh_multiprobe_topk,
        lsh_topk,
    )

    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    K = 5
    single = lsh_topk(emb, q, n_planes=6, dim=64, k=K)
    multi = lsh_multiprobe_topk(emb, q, n_planes=6, dim=64, k=K, n_probes=2)
    one = lsh_multiprobe_topk(emb, q, n_planes=6, dim=64, k=K, n_probes=1)
    bf = brute_force_topk(emb, q, k=K)

    s_rows = {(r["qid"], r["vec_id"]): r["cosine"] for r in single.collect()}
    m_rows = {(r["qid"], r["vec_id"]): r["cosine"] for r in multi.collect()}
    o_rows = {(r["qid"], r["vec_id"]): r["cosine"] for r in one.collect()}
    bf_rows = {(r["qid"], r["vec_id"]): r["cosine"] for r in bf.collect()}

    # n_probes=1 degenerates to the single-table variant exactly
    assert o_rows == s_rows
    # scores agree with brute force wherever both emit the pair
    for key, cos in m_rows.items():
        if key in bf_rows:
            assert cos == bf_rows[key], key
    # per query, the multi-probe top-k is at least as close to the exact
    # top-k as the single-probe one (set overlap with brute force)
    def overlap(rows):
        per_q = {}
        for (qid, vid) in rows:
            per_q.setdefault(qid, set()).add(vid)
        bf_q = {}
        for (qid, vid) in bf_rows:
            bf_q.setdefault(qid, set()).add(vid)
        return {qid: len(per_q.get(qid, set()) & bf_q[qid]) for qid in bf_q}

    ov_s, ov_m = overlap(s_rows), overlap(m_rows)
    assert all(ov_m[qid] >= ov_s[qid] for qid in ov_m)
    assert sum(ov_m.values()) > sum(ov_s.values())  # recall strictly improves


def test_lsh_multiprobe_gate_and_probe_validation(emb, monkeypatch):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        lsh_multiprobe_topk,
    )

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    # over-gate no longer raises: it falls back to the distributed plan
    # (parity asserted in test_ann_over_gate_fallbacks_match_kernel)
    with monkeypatch.context() as m:
        m.setattr(similarity, "QUERY_BLOCK_MAX", 2)
        assert lsh_multiprobe_topk(emb, q, k=2).columns[-1] == "rnk"
    with _pytest.raises(ValueError, match="n_probes"):
        lsh_multiprobe_topk(emb, q, k=2, n_probes=0)


def test_ivf_multiprobe_recall_supersets_single_cell(emb):
    """nprobe=2 must degenerate to nprobe=1 exactly when asked, agree
    with brute force on scores, and strictly improve exact-top-k recall
    on this corpus (it probes the second-nearest coarse cell)."""
    from pyspark.sql import functions as F

    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    K = 5
    single = {(r["qid"], r["vec_id"]): r["cosine"] for r in ivf_topk(emb, q, k=K).collect()}
    one = {(r["qid"], r["vec_id"]): r["cosine"] for r in ivf_topk(emb, q, k=K, n_probes=1).collect()}
    multi = {(r["qid"], r["vec_id"]): r["cosine"] for r in ivf_topk(emb, q, k=K, n_probes=2).collect()}
    bf = {(r["qid"], r["vec_id"]): r["cosine"] for r in brute_force_topk(emb, q, k=K).collect()}
    assert one == single
    for key, cos in multi.items():
        if key in bf:
            assert cos == bf[key], key

    def per_q_overlap(rows):
        per_q, bf_q = {}, {}
        for (qid, vid) in rows:
            per_q.setdefault(qid, set()).add(vid)
        for (qid, vid) in bf:
            bf_q.setdefault(qid, set()).add(vid)
        return {qid: len(per_q.get(qid, set()) & bf_q[qid]) for qid in bf_q}

    ov_s, ov_m = per_q_overlap(single), per_q_overlap(multi)
    assert all(ov_m[qid] >= ov_s[qid] for qid in ov_m)
    assert sum(ov_m.values()) > sum(ov_s.values())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_probes"):
        ivf_topk(emb, q, k=2, n_probes=0)


def test_single_block_fast_path_matches_blocked_machinery(emb, monkeypatch):
    """VERDICT r8 task 2: the footer-gated single-block fast path must
    emit the identical pair set (and exact cosines) as the full
    sizes/pack/pair-join machinery for a multi-group key. A BLOCK_ROWS
    below the input size defeats the footer gate, forcing the blocked
    path on the same input."""
    from pyspark.sql import functions as F

    from us_weather_energy_analysis_pipeline_spark.operators import cache, similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        grouped_candidate_pairs,
    )

    sub = emb.filter(F.col("vec_id") < 80).select(
        "vec_id", "embedding", (F.col("vec_id") % 3).alias("g")
    )

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    cache.release_all()
    fast = grouped_candidate_pairs(sub, 0.15, "g")
    fast_plan = plan(fast)
    f = sorted(map(tuple, fast.collect()))
    with monkeypatch.context() as m:
        m.setattr(similarity, "BLOCK_ROWS", 9)
        slow = grouped_candidate_pairs(sub, 0.15, "g")
    s = sorted(map(tuple, slow.collect()))
    assert f == s and len(f) > 0
    # the gate really chose different plans: fast has no pair join
    # (built with no tracked persists alive: a cached InMemoryRelation
    # leaf has no input files, so the footer gate would conservatively
    # fall back to the blocked path)
    assert "Join" not in fast_plan
    assert "Join" in plan(slow)
    cache.release_all()


def test_fallback_plan_uses_cogroup_kernel(spark, monkeypatch):
    """r10 (VERDICT r9 task 2): the over-gate IVF/LSH fallbacks must
    score pairs through the per-cell cogrouped BLAS kernel
    (FlatMapCoGroupsInPandas) — never through per-pair flat
    ``try_element_at`` chains, which blow janino's 64 KB whole-stage
    method and silently evaluate interpreted (the 63.8 s 8k×8k probe was
    ~60 s of exactly that). The plan must also carry no giant codegen
    projection: the only dim-term chains left are the bounded pre-probe
    centroid scores."""
    from us_weather_energy_analysis_pipeline_spark.operators import similarity
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        ivf_topk,
        lsh_topk,
    )
    from us_weather_energy_analysis_pipeline_spark.session import local_df

    monkeypatch.setattr(similarity, "QUERY_BLOCK_MAX", 1)
    corpus = local_df(
        spark,
        [(i, [float(i % 5), 1.0], i % 3) for i in range(12)],
        "vec_id long, embedding array<double>, label int",
    )
    q = local_df(
        spark,
        [(100 + i, [1.0, float(i % 4)]) for i in range(6)],
        "qid long, qv array<double>",
    )
    for df in (
        ivf_topk(corpus, q, k=2, dim=2),
        ivf_topk(corpus, q, k=2),  # dim-agnostic too
        lsh_topk(corpus, q, k=2, n_planes=3, dim=2),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in plan
        assert "try_element_at" not in plan
