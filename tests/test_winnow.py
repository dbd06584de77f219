"""Winnowing fingerprint properties (corpus/winnow_q.py) — the paper's
guarantees, checked directly (oracle parity is covered by the corpus
gate in test_corpus_oracle.py)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.corpus.winnow_q import (
    WINNOW_K,
    WINNOW_W,
    winnow_selected,
)
from us_weather_energy_analysis_pipeline_spark.session import local_df


def _sel_hashes(spark, docs):
    df = local_df(spark, docs, "doc_id long, text string")
    rows = winnow_selected(df).collect()
    out = {}
    for r in rows:
        out.setdefault(r["doc_id"], set()).add(r["sel"] >> 32)
    return out


def test_shared_run_shares_a_fingerprint(spark):
    """Schleimer et al. theorem: any match of length ≥ w+k−1 words is
    caught — the run contributes w consecutive grams, one full window
    lies inside it, and that window's min-hash gram is selected in BOTH
    documents regardless of surrounding text or position offsets.
    Holds for ANY deterministic gram hash."""
    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(500)]
    run = " ".join(rng.choice(vocab) for _ in range(WINNOW_W + WINNOW_K - 1))
    for trial in range(10):
        pre_a = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        pre_b = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        suf_a = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        suf_b = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        docs = [
            (1, " ".join(x for x in (pre_a, run, suf_a) if x)),
            (2, " ".join(x for x in (pre_b, run, suf_b) if x)),
        ]
        sels = _sel_hashes(spark, docs)
        assert sels[1] & sels[2], f"trial {trial}: no shared fingerprint"


def test_short_doc_degrades_to_whole_doc_window(spark):
    """Fewer than w grams → exactly one window (the whole doc) → exactly
    one selected fingerprint; below k tokens → no grams, doc absent."""
    docs = [
        (1, "alpha beta gamma"),            # exactly k tokens → 1 gram
        (2, "alpha beta gamma delta"),      # 2 grams < w → still 1 window
        (3, "just two"),                    # < k tokens → no output
    ]
    sels = _sel_hashes(spark, docs)
    assert len(sels[1]) == 1 and len(sels[2]) == 1
    assert 3 not in sels


def test_density_tracks_theory(spark):
    """Selected density on random text ≈ 2/(w+1) (the paper's expected
    density for winnowing); allow a generous band."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(5000)]
    text = " ".join(rng.choice(vocab) for _ in range(4000))
    df = local_df(spark, [(1, text)], "doc_id long, text string")
    n_grams = 4000 - WINNOW_K + 1
    n_sel = winnow_selected(df).count()
    density = n_sel / n_grams
    expected = 2.0 / (WINNOW_W + 1)
    assert expected * 0.7 < density < expected * 1.3, density


def test_winnow_pairs_finds_planted_near_dup(spark):
    """Two documents sharing most of their text must surface as a
    candidate pair; unrelated documents must not."""
    from us_weather_energy_analysis_pipeline_spark.corpus.winnow_q import (
        WINNOW_JACCARD,
    )
    from us_weather_energy_analysis_pipeline_spark.functions.text import (
        ordered_pairs,  # noqa: F401 (import path sanity)
    )

    rng = random.Random(3)
    vocab = [f"tok{i}" for i in range(300)]
    body = " ".join(rng.choice(vocab) for _ in range(120))
    other = " ".join(rng.choice(vocab) for _ in range(120))
    docs = [
        (1, "intro words here " + body),
        (2, body + " closing words differ"),
        (3, other),
    ]
    import pyarrow.parquet as pq
    import pyarrow as pa
    import pandas as pd

    def run(tmpdir):
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(docs, columns=["doc_id", "text"]),
                preserve_index=False,
            ),
            f"{tmpdir}/documents.parquet",
        )
        from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
            REGISTRY,
            _ensure_loaded,
        )

        _ensure_loaded()
        return REGISTRY["dedup_winnow_pairs"].spark_fn(spark, tmpdir).collect()

    import tempfile

    with tempfile.TemporaryDirectory() as tmpdir:
        rows = run(tmpdir)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    assert (1, 2) in got and got[(1, 2)] >= WINNOW_JACCARD
    assert not any(3 in p for p in got)


def test_pair_bound_prefilter_is_exact_and_below_the_aggregate(spark):
    """The r15 Jaccard upper-bound pre-filter (least(na,nb)/(na+nb−least)
    ≥ t below the pair groupBy) must (a) never change the surviving pair
    set — inter ≤ least(na, nb) and jaccard is monotone in inter, so a
    bound-failing GROUP can never pass the final filter — and (b) sit
    BELOW the pair aggregate in the plan, so size-skewed pair rows exit
    map-side before the pair exchange. A planted skewed pair (a tiny doc
    sharing its one discriminative fingerprint with a much larger doc)
    exercises the bound's kill path; a planted near-dup pair proves the
    keep path."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pandas as pd

    from us_weather_energy_analysis_pipeline_spark.corpus.winnow_q import (
        winnow_near_dups,
    )
    from us_weather_energy_analysis_pipeline_spark.session import local_df

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(400)]
    shared = " ".join(rng.choice(vocab) for _ in range(12))
    big = shared + " " + " ".join(rng.choice(vocab) for _ in range(200))
    docs = [
        (1, shared),                 # tiny doc
        (2, big),                    # shares a run with 1, much larger
        (3, big + " trailing bits"), # near-dup of 2 (keep path)
    ]
    d = local_df(spark, docs, "doc_id long, text string")
    out = winnow_near_dups(d)
    rows = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}
    # keep path: 2-3 are near-dups
    assert (2, 3) in rows
    # exactness twin: brute-force jaccard over fingerprint sets must
    # match the operator's surviving pair set exactly
    from us_weather_energy_analysis_pipeline_spark.corpus.winnow_q import (
        WINNOW_DF_CAP, WINNOW_JACCARD, winnow_selected,
    )
    sel = winnow_selected(d).collect()
    fps: dict[int, set] = {}
    for r in sel:
        fps.setdefault(r["doc_id"], set()).add(r["sel"] >> 32)
    from collections import Counter
    df_count = Counter(h for s in fps.values() for h in s)
    fps = {d_: {h for h in s if df_count[h] <= WINNOW_DF_CAP} for d_, s in fps.items()}
    expect = {}
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(fps[a] & fps[b])
            if inter and inter / (len(fps[a]) + len(fps[b]) - inter) >= WINNOW_JACCARD:
                expect[(a, b)] = True
    assert set(rows) == set(expect)
    # plan shape: the bound filter must appear BELOW the pair aggregate
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    agg_at = plan.find("Aggregate")
    bound_at = plan.find("least(")
    assert bound_at != -1, "bound pre-filter missing from the plan"
    assert bound_at > agg_at, "bound filter must sit below the pair aggregate"
