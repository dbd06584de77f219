"""Near-dup operator semantics on hand-built fixtures."""

from __future__ import annotations

import pytest

from us_weather_energy_analysis_pipeline_spark.operators.dedup import (
    minhash_near_dups,
    minhash_sig_ctes,
    simhash32,
    simhash_near_dups,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
    (3, "the quick brown fox leaps over the lazy dog again and again"),  # near dup
    (4, "completely different content about spark shuffles and joins here"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_identical_docs_full_signature_match(docs):
    out = {(r["doc_a"], r["doc_b"]): r for r in minhash_near_dups(docs, threshold=0.0).collect()}
    assert (1, 2) in out
    assert out[(1, 2)]["est_jaccard"] == 1.0
    assert out[(1, 2)]["n_shared_bands"] == 4


def test_near_dup_scores_between(docs):
    out = {(r["doc_a"], r["doc_b"]): r for r in minhash_near_dups(docs, threshold=0.0).collect()}
    if (1, 3) in out:  # banding may or may not catch it; if caught, sane est
        assert 0.0 < out[(1, 3)]["est_jaccard"] < 1.0
    # unrelated doc 4 shares no shingle → can never pair
    assert not any(4 in pair for pair in out)


def test_signature_shape(docs, spark):
    sig = spark.sql(f"WITH {minhash_sig_ctes()} SELECT sig FROM sig", docs=docs).collect()
    assert sig and all(len(r["sig"]) == 12 for r in sig)
    pairs = minhash_near_dups(docs, threshold=0.0).collect()
    assert pairs and all(r["doc_a"] < r["doc_b"] for r in pairs)


def test_simhash_identical_and_distance(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash32(docs).collect()}
    assert sh[1] == sh[2]
    assert all(0 <= v < 2**32 for v in sh.values())
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dups(docs, max_hamming=32).collect()
    }
    assert pairs.get((1, 2)) == 0
    if (1, 3) in pairs:
        assert pairs[(1, 3)] <= 10  # one-word change moves few bits


def test_connected_components_chain_and_clusters(spark):
    from us_weather_energy_analysis_pipeline_spark.operators.components import (
        connected_components,
        dedup_clusters,
    )

    # two components: chain 1-2-3-4 (diameter 3) and pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    clusters = dedup_clusters(
        edges.withColumnRenamed("src", "doc_a").withColumnRenamed("dst", "doc_b")
    ).collect()
    canon = {r["doc_id"]: r["is_canonical"] for r in clusters}
    assert canon == {1: 1, 2: 0, 3: 0, 4: 0, 10: 1, 11: 0}


def test_connected_components_distributed_path(spark):
    """Force the distributed propagation path (threshold=0) and check it
    matches the union-find path on the same graph."""
    from us_weather_energy_analysis_pipeline_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (5, 6), (6, 7)], "src long, dst long"
    )
    fast = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    dist = {
        r["node"]: r["comp"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert fast == dist == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 5: 5, 6: 5, 7: 5}


def test_ngram_df_cap_drops_boilerplate_shingles(spark):
    """Adversarial repeated-shingle fixture: a boilerplate shingle shared
    by every doc must NOT create pairs on its own once df > cap — the
    inverted-index self-join would otherwise emit k² rows for it."""
    from pyspark.sql import functions as F

    from us_weather_energy_analysis_pipeline_spark.corpus.dedup_q import (
        capped_shingles,
        word_shingles,
    )

    # 12 docs all share the boilerplate head "terms of service"; only docs
    # 0 and 1 also share a discriminative tail.
    rows = [
        (i, "terms of service " + ("alpha beta gamma delta" if i < 2 else f"unique{i} u{i}x u{i}y u{i}z"))
        for i in range(12)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sh = capped_shingles(word_shingles(d), 10)
    # the cap must be enforced by a broadcast ANTI join (map-side df count,
    # hot rows dropped with no shuffle of the index by shingle) — never by
    # a per-shingle window, which concentrates a hot key on one partition
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan
    assert "Window" not in plan
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .collect()
    )
    # Without the cap this would be C(12,2)=66 pairs; capped, only the one
    # genuinely-similar pair (via discriminative shingles) survives.
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(0, 1)}


def test_connected_components_long_path_converges(spark):
    """Diameter-40 path graph through the distributed propagation path:
    pointer jumping must converge well inside the round budget (plain
    min-propagation would need 40 rounds and previously raised at 10)."""
    from us_weather_energy_analysis_pipeline_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    comp = {
        r["node"]: r["comp"]
        for r in connected_components(edges, driver_threshold=0, max_iter=10).collect()
    }
    assert comp == {i: 0 for i in range(41)}


def test_frame_sample_bytes_explosion(spark):
    """frame_sample_bytes: 1 row → ceil(n_frames/every_n) rows, exact
    byte slices, short payloads yield nothing."""
    from us_weather_energy_analysis_pipeline_spark.operators.multimodal import (
        frame_sample_bytes,
    )

    payload = bytes(range(40))  # 10 frames of 4 bytes
    blobs = spark.createDataFrame(
        [(1, payload), (2, b"abc")], "doc_id long, payload binary"
    )
    out = frame_sample_bytes(blobs, frame_size=4, every_n=3).collect()
    got = {(r["doc_id"], r["frame_idx"]): bytes(r["frame"]) for r in out}
    assert got == {
        (1, 0): bytes(range(0, 4)),
        (1, 3): bytes(range(12, 16)),
        (1, 6): bytes(range(24, 28)),
        (1, 9): bytes(range(36, 40)),
    }


def _ahash_ref(payload: bytes) -> tuple:
    """Pure-Python reference of the aHash contract: 64 samples at
    (n*k)//64, strict v*64 > sum threshold, 4x16-bit band packing."""
    n = len(payload)
    px = [payload[(n * k) // 64] for k in range(64)]
    s = sum(px)
    bits = [1 if v * 64 > s else 0 for v in px]
    return tuple(
        sum(bits[16 * b + j] << j for j in range(16)) for b in range(4)
    )


def test_ahash_bands_matches_reference(spark):
    """ahash_bands: the vectorized Arrow kernel must equal the scalar
    reference bit-for-bit; NULL and empty payloads yield no row; a
    uniform payload (every sample equal) hashes to all-zero bands
    (strict > is false at the mean)."""
    from us_weather_energy_analysis_pipeline_spark.operators.multimodal import (
        ahash_bands,
    )

    payloads = [
        (1, b"abcdef" * 20),
        (2, bytes(range(200))),
        (3, b"\x00" * 50),  # uniform -> all bands 0
        (4, None),  # dropped
        (5, b""),  # dropped
        (6, b"Z"),  # single byte: every sample is that byte -> bands 0
        (7, "emoji 🎉 mixed with ascii".encode()),
    ]
    blobs = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in ahash_bands(blobs).collect()
    }
    assert set(got) == {1, 2, 3, 6, 7}
    for doc_id, p in payloads:
        if p:
            assert got[doc_id] == _ahash_ref(p), doc_id
    assert got[3] == (0, 0, 0, 0)
    assert got[6] == (0, 0, 0, 0)


def test_phash_near_pairs_banded(spark):
    """phash_near_pairs: a planted pair differing by 1 bit in each of 3
    bands (hamming 3, only band 3 shared) is found through its shared
    band; a pair sharing a band but at hamming 9 is verified away; docs
    sharing no band never become candidates; and dropping the shared
    band's bucket via bucket_cap suppresses the planted pair."""
    from us_weather_energy_analysis_pipeline_spark.operators.multimodal import (
        phash_near_pairs,
    )

    rows = [
        (100, 8, 16, 32, 77),
        (101, 9, 17, 33, 77),  # hamming 3 vs 100, shares ONLY b3
        (200, 8, 500, 600, 700),  # shares b0 with 100; hamming way over
        (300, 1111, 2222, 3333, 4444),  # shares nothing
    ]
    # filler docs crowd the b3=77 bucket (far from everything pairwise)
    rows += [(400 + i, 5000 + 64 * i, 6000 + 64 * i, 7000 + 64 * i, 77) for i in range(5)]
    bands = spark.createDataFrame(
        rows, "doc_id long, b0 int, b1 int, b2 int, b3 int"
    )
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in phash_near_pairs(bands).collect()}
    assert got == {(100, 101): 3}
    # b3=77 bucket holds 7 docs; cap at 4 drops it, and the planted pair
    # shares no other band -> no candidates survive
    assert phash_near_pairs(bands, bucket_cap=4).count() == 0


def test_phash_image_bands_gate(spark):
    """phash_image_bands mirrors the PIL gate of decode_image: real
    decode when Pillow is importable, NotImplementedError otherwise."""
    import pytest as _pytest

    from us_weather_energy_analysis_pipeline_spark.operators.multimodal import (
        phash_image_bands,
    )

    blobs = spark.createDataFrame([(1, b"\x89PNG")], "doc_id long, payload binary")
    try:
        import PIL  # noqa: F401
    except ImportError:
        with _pytest.raises(NotImplementedError):
            phash_image_bands(blobs)
        return
    # PIL present: undecodable payload yields zero rows, not a failure
    assert phash_image_bands(blobs).count() == 0


def test_pil_decode_paths(spark):
    """decode_image is real when Pillow exists, an honest
    NotImplementedError otherwise."""
    import pytest as _pytest

    from us_weather_energy_analysis_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    blobs = spark.createDataFrame([(1, b"\x89PNG")], "doc_id long, payload binary")
    try:
        import PIL  # noqa: F401
    except ImportError:
        with _pytest.raises(NotImplementedError):
            decode_image(blobs)
        return
    # PIL present: undecodable payload must yield null metadata, not fail
    rows = decode_image(blobs).collect()
    assert rows[0]["width"] is None and rows[0]["n_bytes"] == 4


def test_video_frame_sample_paths(spark):
    """frame_sample_video mirrors the PIL gate: real PyAV decode when the
    codec is importable, NotImplementedError at plan-build time otherwise
    (this container has no PyAV)."""
    import pytest as _pytest

    from us_weather_energy_analysis_pipeline_spark.operators.multimodal import (
        frame_sample_video,
    )

    blobs = spark.createDataFrame(
        [(1, b"notavideo")], "doc_id long, payload binary"
    )
    try:
        import av  # noqa: F401
    except ImportError:
        with _pytest.raises(NotImplementedError):
            frame_sample_video(blobs)
        return
    # codec present: undecodable payload yields zero rows, not a failure
    assert frame_sample_video(blobs).count() == 0


class TestKMVSketch:
    """kmv_k_smallest: the TakeOrdered row prune must be exact-or-loud."""

    def test_matches_naive_distinct_path(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from us_weather_energy_analysis_pipeline_spark.operators.sketch import (
            kmv_k_smallest,
        )

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        got = kmv_k_smallest(li, "l_orderkey", k=16).collect()[0]
        want = [
            r["h"]
            for r in li.select(
                F.md5(F.col("l_orderkey").cast("string")).alias("h")
            )
            .distinct()
            .orderBy("h")
            .limit(16)
            .collect()
        ]
        assert list(got["ks"]) == want
        assert got["n_kept"] == 16 and got["u_k"] == want[-1]

    def test_empty_and_underfull_inputs(self, spark):
        from pyspark.sql import functions as F

        from us_weather_energy_analysis_pipeline_spark.operators.sketch import (
            kmv_k_smallest,
        )

        empty = spark.range(0).select(F.col("id").alias("k"))
        r = kmv_k_smallest(empty, "k", k=4, over_factor=2).collect()[0]
        assert r["n_kept"] == 0 and r["u_k"] is None and list(r["ks"]) == []
        small = spark.range(3).select(F.col("id").alias("k"))
        r = kmv_k_smallest(small, "k", k=4, over_factor=2).collect()[0]
        assert r["n_kept"] == 3 and r["u_k"] == r["ks"][-1]

    def test_guard_trips_on_pathological_duplication(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from us_weather_energy_analysis_pipeline_spark.operators.sketch import (
            kmv_k_smallest,
        )

        # 1000 copies of ONE key with m = k*over_factor = 8: the 8 smallest
        # rows are all the same value and the input is not exhausted — the
        # sketch would be silently lossy, so the plan must raise instead.
        skew = spark.range(1000).select(F.lit(7).alias("k"))
        with pytest.raises(Exception, match="kmv_k_smallest"):
            kmv_k_smallest(skew, "k", k=4, over_factor=2).collect()

    def test_backtick_in_column_name_is_escaped(self, spark):
        """ADVICE r11: a string key containing a backtick must resolve
        through the doubled-backtick quoting, matching the Column path's
        result instead of producing a malformed statement."""
        from pyspark.sql import functions as F

        from us_weather_energy_analysis_pipeline_spark.operators.sketch import (
            kmv_k_smallest,
        )

        odd = spark.range(20).select(F.col("id").alias("a`b"))
        via_str = kmv_k_smallest(odd, "a`b", k=4, over_factor=2).collect()[0]
        # same data under a plain name — the escaped statement must
        # compute exactly this (pyspark's own column resolvers reject a
        # raw backtick everywhere, so the renamed frame is the witness)
        plain = kmv_k_smallest(
            odd.withColumnRenamed("a`b", "k"), "k", k=4, over_factor=2
        ).collect()[0]
        assert list(via_str["ks"]) == list(plain["ks"])
        assert via_str["n_kept"] == plain["n_kept"] == 4


def test_connected_components_small_path_single_job(spark):
    """r6 gate shape: the small-graph path must materialize the edge
    list with ONE job (per-partition-limited collect), not count+collect."""
    from us_weather_energy_analysis_pipeline_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    after = set(tracker.getJobIdsForGroup())
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # one job for the capped edge collect + one for the final collect of
    # the (broadcast-local) labeling; the old shape needed three
    assert len(after - before) <= 2, len(after - before)


def test_connected_components_truncation_falls_back_distributed(spark):
    """When the per-partition cap truncates (edges > threshold), the
    distributed propagate must produce the same labeling."""
    from us_weather_energy_analysis_pipeline_spark.operators.components import (
        connected_components,
    )

    rows = [(i, i + 1) for i in range(0, 40, 2)] + [(100, 101), (101, 102)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    want = {
        r["node"]: r["comp"]
        for r in connected_components(edges).collect()
    }
    got = {
        r["node"]: r["comp"]
        for r in connected_components(edges, driver_threshold=3).collect()
    }
    assert got == want and len(got) > 0


def test_simhash_production_band_config_finds_planted_near_dups(spark):
    """The 60-bit/15-bit-band production configuration must surface
    planted near-duplicates (small Hamming via near-identical text) and
    never emit a pair beyond max_hamming."""
    from us_weather_energy_analysis_pipeline_spark.operators.dedup import (
        simhash_near_dups,
    )

    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [(1, base), (2, base + "extra tail token"), (3, "completely different words entirely unrelated content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = simhash_near_dups(
        df, max_hamming=6, bits=60, band_bits=15, bucket_cap=64
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
    assert (1, 2) in pairs
    assert all(h <= 6 for h in pairs.values())


def test_simhash_bucket_cap_drops_overoccupied_buckets(spark):
    """bucket_cap bounds the bucket-local join: identical docs beyond the
    cap collapse into one over-occupied bucket per band, and the capped
    path must emit NO pairs for them (they are dropped, not paired)."""
    from us_weather_energy_analysis_pipeline_spark.operators.dedup import (
        simhash_near_dups,
    )

    text = "identical boilerplate text repeated across every document here"
    df = spark.createDataFrame(
        [(i, text) for i in range(10)], "doc_id long, text string"
    )
    uncapped = simhash_near_dups(df, bits=60, band_bits=15).count()
    capped = simhash_near_dups(df, bits=60, band_bits=15, bucket_cap=5).count()
    assert uncapped == 45  # C(10,2) identical docs
    assert capped == 0


def test_simhash_lane_overflow_raises_loudly(spark):
    """A document beyond the 2^20-1 token lane capacity must raise, not
    silently corrupt lane sums. Build the token count synthetically via
    a repeated single-char token text (cheap to generate)."""
    import pytest as _pytest

    from us_weather_energy_analysis_pipeline_spark.operators.dedup import (
        simhash_fingerprint,
    )

    big = "a " * (1 << 20)  # 2^20 tokens — above the clean-raise cap
    df = spark.createDataFrame([(1, big)], "doc_id long, text string")
    with _pytest.raises(Exception, match="lane overflow"):
        simhash_fingerprint(df).collect()
