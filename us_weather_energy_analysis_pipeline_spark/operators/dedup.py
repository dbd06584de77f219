"""Near-duplicate detection operators: MinHash+LSH and SimHash.

Scale design: both families exist to avoid the O(n²) pair space.

- MinHash+LSH: per-doc signature (k mins over shingle hashes) → band
  digests → ONE shuffle on (band, digest); only bucket-local pairs
  materialize. Est. Jaccard from signature agreement verifies candidates
  without touching the original text.
- SimHash: 32-bit fingerprint per doc from token-hash bit votes → band on
  byte quarters → bucket-local pairs → exact Hamming distance via
  bit_count(xor).

Hashing is md5-over-strings on BOTH engines (same digests in Spark and
DuckDB), so every stage is oracle-checkable — no JVM-private hash
functions in the contract path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.functions.text import ascii_lower

MINHASH_K = 12
LSH_BANDS = 4  # 4 bands × 3 rows
SIMHASH_BITS = 32
# Universal-hash family for MinHash permutations: h_s(x) = (a_s·x + b_s) mod p
# over the 32-bit md5 prefix of the shingle. ONE md5 per shingle row instead
# of k — hashing is the dominant map-side compute of a web-scale minhash
# pass. Constants are md5-derived so the DuckDB oracle regenerates them;
# a_s < 2^29 and x < 2^32 keep a·x + b < 2^63 (no int64 overflow).
MINHASH_P = 2_147_483_647  # 2^31 − 1 (Mersenne prime)


def minhash_params(k: int) -> list[tuple[int, int]]:
    return [
        (
            int(hashlib.md5(f"a:{s}".encode()).hexdigest()[:7], 16) * 2 + 1,
            int(hashlib.md5(f"b:{s}".encode()).hexdigest()[:7], 16),
        )
        for s in range(k)
    ]


def word_shingles(
    df: DataFrame, text_col: str = "text", k: int = 3, dedupe: bool = True
) -> DataFrame:
    """(doc_id, shingle) pairs — k-word shingles of lowercased text.
    ``dedupe=False`` skips the distinct (a full shuffle): correct whenever
    the consumer is duplicate-insensitive, e.g. MinHash's min()."""
    toks = F.split(ascii_lower(F.trim(F.col(text_col))), " ")
    base = df.select("doc_id", toks.alias("t")).filter(F.size("t") >= k)
    idx = F.sequence(F.lit(0), F.size("t") - k)
    shingles = F.transform(idx, lambda i: F.array_join(F.slice("t", i + 1, k), " "))
    out = base.select("doc_id", F.explode(shingles).alias("shingle"))
    return out.distinct() if dedupe else out


def minhash_sig_ctes(
    text_col: str = "text",
    k: int = MINHASH_K,
    shingle_k: int = 3,
) -> str:
    """CTE text (``base``, ``sh``, ``perm``, ``sig``) computing per-doc
    MinHash signatures over a ``{docs}`` template slot — the shared
    front half of every single-statement minhash query (r11 build cut):
    composing CTE TEXT instead of DataFrames keeps each consumer at one
    parse + one analysis. The shingle hash is the 32-bit md5 prefix, the
    oracle contract: DuckDB regenerates the identical value, so every
    downstream stage is value-checkable cross-engine."""
    from us_weather_energy_analysis_pipeline_spark.functions.text import (
        ascii_lower_sql,
    )

    perms = ", ".join(
        f"(hv * {a}L + {b}L) % {MINHASH_P}L AS h{s}"
        for s, (a, b) in enumerate(minhash_params(k))
    )
    return f"""
    base AS (
      SELECT doc_id, split({ascii_lower_sql(f'trim(`{text_col}`)')}, ' ') AS t
      FROM {{docs}}
    ),
    sh AS (
      -- shingles are built row-level (explode the index, THEN join the
      -- slice): array_join inside a transform() lambda evaluates
      -- INTERPRETED per element (the r10 janino/HOF trap), while this
      -- projection is whole-stage codegen — interleaved A/B 0.456 →
      -- 0.265 s for the explode stage at sf0.1 (BENCH_AB r11). Same
      -- rows, same order, same md5 oracle contract.
      SELECT doc_id, array_join(slice(t, i + 1, {shingle_k}), ' ') AS shingle
      FROM (
        SELECT doc_id, t, explode(sequence(0, size(t) - {shingle_k})) AS i
        FROM base WHERE size(t) >= {shingle_k}
      )
    ),
    perm AS (
      SELECT doc_id, {perms}
      FROM (SELECT doc_id, cast(conv(substring(md5(shingle), 1, 8), 16, 10) AS bigint) AS hv FROM sh)
    ),
    sig AS (
      SELECT doc_id, array({', '.join(f'm{s}' for s in range(k))}) AS sig
      FROM (SELECT doc_id, {', '.join(f'min(h{s}) AS m{s}' for s in range(k))}
            FROM perm GROUP BY doc_id)
    )"""


def banded_cte(bands: int = LSH_BANDS, k: int = MINHASH_K) -> str:
    """CTE text banding the ``sig`` CTE into (band, digest) rows with the
    signature riding along — pairs with :func:`minhash_sig_ctes`."""
    rows = k // bands
    digests = ", ".join(
        "xxhash64(" + ", ".join(f"sig[{b * rows + r}]" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return (
        "banded AS (\n      SELECT doc_id, sig, "
        f"posexplode(array({digests})) AS (band, digest) FROM sig\n    )"
    )


def est_jaccard_sql(k: int = MINHASH_K, a: str = "a.sig", b: str = "b.sig") -> str:
    """Signature-agreement Jaccard estimate between ``a``/``b`` sig exprs."""
    return (
        f"CAST(size(filter(zip_with({a}, {b}, (x, y) -> CAST(x = y AS INT)),"
        f" v -> v = 1)) AS DOUBLE) / {k}"
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    threshold: float = 0.5,
    est_round: int | None = None,
) -> DataFrame:
    """Full MinHash/LSH near-dup pipeline: candidates via banding, then
    estimated Jaccard = fraction of agreeing signature positions; keep
    pairs ≥ threshold. Returns (doc_a, doc_b, n_shared_bands, est_jaccard).
    ``threshold`` binds to the RAW estimate (SQL ``WHERE`` runs before
    the ``SELECT`` aliases): with ``est_round`` set, an emitted value can
    display just below threshold after rounding. The contract is
    deliberate — the estimate, not its display form, is the statistic.

    The signature array RIDES THROUGH the band explode instead of being
    re-joined after the bucket join (the r3 shape): at web scale the sig
    table is n_docs × k longs — far beyond broadcast — so two post-join
    sig lookups are two more doc-keyed shuffles of it. Carrying sig costs
    ``bands × k`` longs per doc through the ONE (band, digest) exchange,
    after which the estimate is computed map-side on the matched rows and
    the sigs are dropped BEFORE the pair-dedup groupBy — the pair
    exchange ships (doc_a, doc_b, est) only. One shuffle family total,
    no joins, no persist (the signature pass now feeds exactly one
    consumer, so the cache bookkeeping disappears too).

    Bucket-local pairs expand from POSTING LISTS, not a banded self-join
    (r14): the r11 self-join planned as a BroadcastHashJoin whose build
    side was the SAME banded subtree — ReuseExchange cannot fire across
    a BroadcastExchange boundary, so the full tokenize→md5→sign pass
    (the dominant map-side cost) executed TWICE per query. One
    groupBy (band, digest) into ≤occupancy-row sorted lists and a
    map-side ordered-pair expansion (the exact dedup_ngram_jaccard /
    winnow shape) computes signatures ONCE and drops an exchange; the
    skew posture is unchanged — a hot bucket concentrated its pairs on
    one join partition before, and occupancy is digest-bounded (64-bit
    digests collide only for near-identical signatures).

    Built as ONE ``spark.sql`` call (r11): the staged DataFrame form
    re-analyzed the accumulated plan at every op boundary (~10
    boundaries over a growing join tree) and cost ~0.2 s of pure driver
    build per call on this runtime; the single templated statement is
    one parse + one analysis (~0.07 s), physical plan identical up to
    lambda-variable display names (paired A/B in BENCH_AB.md r11)."""
    from us_weather_energy_analysis_pipeline_spark.corpus._util import dround_sql

    # est_round: fold the corpus float-rounding contract INTO the single
    # statement — a trailing .select(dround(...)) re-analyzes the whole
    # join tree (~0.12 s measured), defeating the one-analysis build
    est_out = (
        "est_jaccard" if est_round is None else dround_sql("est_jaccard", est_round)
    )
    from us_weather_energy_analysis_pipeline_spark.functions.text import (
        lateral_pairs_sql,
    )

    sql = f"""
    WITH {minhash_sig_ctes(text_col, k)},
    {banded_cte(bands, k)},
    buckets AS (
      SELECT sort_array(collect_list(struct(doc_id, sig))) AS ds
      FROM banded GROUP BY band, digest
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             {est_jaccard_sql(k, 'a.sig', 'b.sig')} AS est_jaccard
      FROM {lateral_pairs_sql('(SELECT ds FROM buckets WHERE size(ds) >= 2)', 'ds', 'a', 'b')}
    ),
    agg AS (
      SELECT doc_a, doc_b, count(1) AS n_shared_bands, first(est_jaccard) AS est_jaccard
      FROM pairs GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b, n_shared_bands, {est_out} AS est_jaccard
    FROM agg WHERE est_jaccard >= {float(threshold)!r}D
    """
    return df.sparkSession.sql(sql, docs=df)


def simhash_fingerprint(
    df: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """``bits``-wide SimHash per doc: per-token md5 → first bits/4 hex
    digits parsed ONCE into an int; each bit votes ±1 weighted by token
    occurrence; sign of the vote sum sets the fingerprint bit.
    Returns (doc_id, simhash bigint). ``bits`` ≤ 63 (the packed
    fingerprint stays a signed bigint).

    Shape: explode tokens → one groupBy(doc_id) with ``bits`` bit-count
    sums. The explode + codegen'd shifts keep every operation inside
    whole-stage codegen, and partial aggregation shrinks the exchange to
    ``bits`` longs per doc per partition. A zero-shuffle higher-order-
    function fold was measured 4-10× SLOWER at volume (SCALE_PROBE
    simhash_map): HOF lambdas evaluate interpreted, outside codegen —
    the tiny post-combine shuffle is the cheaper currency.
    """
    # SQL-string expression building (as in minhash_sig_ctes): the
    # per-bit Column arithmetic was the single biggest Py4J plan-build
    # cost in the corpus (~1.2 s per call).
    #
    # Votes are aggregated as RAW BIT SUMS (ones count per position) plus
    # one row count, not as ±1 votes: sign(Σ±1) = [2·ones ≥ n], and the
    # bit-sum aggregation measured 3× faster than the ±1 formulation at
    # sf0.1 (1.55 s → 0.53 s for the full pass) — the projection feeding
    # the hash-agg is a plain `& 1` mask instead of an affine map.
    #
    # LANE PACKING (r6): the per-position counters ride 3 to a long in
    # 21-bit lanes, so the hash-agg carries ⌈bits/3⌉ sum columns instead
    # of ``bits`` — replicated −19% on the fingerprint pass at sf0.1
    # with bit-identical output (BENCH_AB). Lane capacity caps documents
    # at 2²⁰−1 tokens: below that the packed per-row value (< 2⁴³)
    # summed over < 2²⁰ rows stays under 2⁶³ — no silent carry anywhere.
    # Documents in [2²⁰, 2²¹) fail LOUDLY via raise_error; beyond 2²¹
    # the ANSI sum itself overflows first (also loud, never silent).
    #
    # 60-bit ceiling: the per-token hash is conv(md5-hex-prefix) and 15
    # hex digits (2⁶⁰−1) is the widest prefix whose decimal string still
    # casts into a signed bigint under ANSI
    return df.sparkSession.sql(
        f"WITH {simhash_ctes(text_col, bits)} SELECT doc_id, simhash FROM sh",
        docs=df,
    )


def simhash_ctes(text_col: str = "text", bits: int = SIMHASH_BITS) -> str:
    """CTE text (``per_tok``, ``sums``, ``sh``) computing the packed-lane
    SimHash fingerprint over a ``{docs}`` template slot — shared by the
    fingerprint query and the banded pair join so each consumer is ONE
    spark.sql statement (r11 build cut; the per-bit expression strings
    were already SQL — this removes the op-boundary re-analysis)."""
    if not 1 <= bits <= 60:
        raise ValueError(f"simhash bits must be in [1, 60], got {bits}")
    hexd = (bits + 3) // 4
    lanes, lane_bits = 3, 21
    n_longs = (bits + lanes - 1) // lanes
    packed = []
    for g in range(n_longs):
        terms = [
            f"shiftleft(shiftright(hv, {p}) & 1, {lane_bits * (p - g * lanes)})"
            for p in range(g * lanes, min((g + 1) * lanes, bits))
        ]
        packed.append(f"cast({' + '.join(terms)} AS bigint) AS g{g}")
    lane_mask = (1 << lane_bits) - 1

    def s(p: int) -> str:
        return f"(shiftright(S{p // lanes}, {lane_bits * (p % lanes)}) & {lane_mask})"

    fingerprint = " + ".join(
        f"(CASE WHEN 2 * {s(p)} >= n THEN {2**p}L ELSE 0L END)" for p in range(bits)
    )
    cap = 1 << (lane_bits - 1)
    guard = (
        f"CASE WHEN n >= {cap} THEN "
        f"raise_error(concat('simhash lane overflow: document has ', n, "
        f"' tokens (cap {cap - 1}); split the document or widen lanes')) "
        f"ELSE cast({fingerprint} AS bigint) END"
    )
    return f"""
    per_tok AS (
      SELECT doc_id,
             cast(conv(substring(md5(tok), 1, {hexd}), 16, 10) AS bigint) AS hv
      FROM (
        SELECT doc_id,
               explode(split(translate(trim(`{text_col}`),
                 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                 ' ')) AS tok
        FROM {{docs}}
      )
    ),
    sums AS (
      SELECT doc_id, count(1) AS n, {', '.join(f'sum(g{g}) AS S{g}' for g in range(n_longs))}
      FROM (SELECT doc_id, {', '.join(packed)} FROM per_tok)
      GROUP BY doc_id
    ),
    sh AS (SELECT doc_id, {guard} AS simhash FROM sums)"""


def simhash32(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The 32-bit oracle-twin fingerprint — see ``simhash_fingerprint``.
    DuckDB regenerates identical values (md5-hex prefix votes)."""
    return simhash_fingerprint(df, text_col, bits=SIMHASH_BITS)


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 6,
    bits: int = SIMHASH_BITS,
    band_bits: int = 8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the fingerprint into ``bits //
    band_bits`` chunks, join bucket-locally on any equal chunk, then
    exact Hamming via bit_count(xor). Returns (doc_a, doc_b, hamming).

    Defaults (32-bit, byte bands, no cap) are the ORACLE CONTRACT —
    DuckDB replays the identical banding. They are NOT the scale
    configuration: a band of b bits has only 2^b buckets, so occupancy
    grows with corpus size n and the bucket-local join emits
    Θ(n²/2^b) candidates — the r6 ×16 probe measured 37× wall growth
    (SCALE_PROBE.md). The PRODUCTION path is ``bits=60, band_bits=15,
    bucket_cap≈64``: same 4-band shape, but 2¹⁵ buckets per band cut
    occupancy 128×, and the cap drops over-occupied buckets entirely
    (the df-cap discipline the ngram/winnow plans use — a bucket holding
    more than ``cap`` docs is boilerplate-band noise whose members
    overwhelmingly collide in OTHER bands too), bounding pairs at
    buckets × C(cap, 2) regardless of corpus size. Banding recall is
    the standard SimHash contract either way (Manku et al., WWW'07): a
    pair within ``max_hamming`` is found iff some band matches exactly.
    """
    from us_weather_energy_analysis_pipeline_spark.operators import cache

    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    chunks = ", ".join(
        f"shiftright(simhash, {band_bits * b}) & {mask}" for b in range(n_bands)
    )
    # The banded fingerprint is PERSISTED (cache.track — the ngram-index
    # discipline) before the self-join, r14: the r11 REPARTITION-hint
    # form planned as a BroadcastHashJoin whose build side recomputed
    # the whole tokenize→md5→vote fingerprint pass — ReuseExchange
    # cannot fire across a BroadcastExchange boundary, so the dominant
    # map-side cost executed TWICE per query (plan-confirmed: two full
    # scan→Generate→HashAggregate subtrees). A posting-list rewrite
    # (collect_list per bucket + map-side ordered pairs, the ngram
    # shape) was A/B'd first and measured ~1 s SLOWER at sf0.1: simhash
    # buckets are occupancy ~n/2^band_bits (≈20 docs here), so the
    # interpreted HOF pair expansion outweighed the saved fingerprint
    # pass — the codegen'd bucket join is the cheaper pair generator for
    # this family. The persist keeps the join shape and computes the
    # fingerprint ONCE (~20 bytes/row × n_bands rows per doc).
    #
    # Referenced by TEMP VIEW, not a {b} sql parameter: passing a
    # persisted DataFrame as a spark.sql parameter UNCACHES it during
    # analysis on Spark 4.1 (see cache.track_view) — the r14 batch-1
    # form silently kept both fingerprint subtrees.
    bname = cache.track_view(
        df.sparkSession.sql(
            f"""
            WITH {simhash_ctes(text_col, bits)}
            SELECT doc_id, simhash, band, chunk
            FROM (SELECT doc_id, simhash,
                         posexplode(array({chunks})) AS (band, chunk) FROM sh)
            """,
            docs=df,
        ),
        prefix="_simhash_banded",
    )
    # NO outer WITH here: because the banded view's own definition
    # contains CTEs (simhash_ctes), wrapping its reference in an outer
    # CTE defeats InMemoryRelation substitution during analysis (the
    # nested-CTE re-ID breaks the canonical plan match) and the
    # fingerprint subtree silently runs twice again — inline subqueries
    # keep the cache hit (plan-confirmed, r14).
    side = (
        bname
        if bucket_cap is None
        else f"""(
          SELECT doc_id, simhash, band, chunk FROM (
            SELECT *, count(1) OVER (PARTITION BY band, chunk) AS _occ
            FROM {bname}
          ) WHERE _occ <= {bucket_cap}
        )"""
    )
    return df.sparkSession.sql(
        f"""
        SELECT DISTINCT doc_a, doc_b, hamming
        FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT) AS hamming
          FROM {side} a JOIN {side} b
            ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        )
        WHERE hamming <= {max_hamming}
        """
    )
