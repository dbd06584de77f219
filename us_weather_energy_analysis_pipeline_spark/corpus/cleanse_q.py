"""Corpus cleansing — the span-level dedup / rebalancing / decontamination
stages of a training-data pipeline:

- duplicated-substring spans (Lee et al. 2022, "Deduplicating Training
  Data Makes Language Models Better": remove VERBATIM repeated spans, not
  whole near-dup documents — the ExactSubstr family, here bounded to
  k-token gram resolution so it stays a pure relational plan);
- per-document duplicated-coverage ratio + drop flag (the "mostly
  duplicated document" filter built on the same spans);
- temperature resampling of the language mix (the multilingual
  p_l ∝ n_l^α rebalance of XLM-R/mBERT data prep, α = 0.5), hash-based
  so selection is deterministic and auditable across engines/reruns;
- n-gram overlap decontamination (GPT-3 appendix C style: flag training
  documents sharing any k-gram with a held-out eval source — finer than
  ``decontamination_check``'s whole-document fingerprint).

Reference parity: the reference pipeline has no corpus-cleansing stage at
all (it loads everything eagerly, reference ``src/pipeline.py:11-111``);
this module is part of the LLM-training-data extension surface.

Registered in a TRAILING module (imported after winnow_q/corpstats_q) so
existing driver verification-window positions never shift — see
registry._ensure_loaded for the window layout.

Cross-engine contracts (see oracle-parity rules in BENCH_AB/SURVEY):
tokenization is the winnow_q contract (trim → ascii_lower → split on a
single space); Spark groups grams by ``xxhash64`` of the gram text while
the oracle groups the gram STRING itself — legal because the hash only
partitions/pairs/counts, and the string-keyed oracle doubles as the
collision check at test SFs (a 64-bit collision would need ~2³² distinct
grams to become likely).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.corpus._util import dround_sql, r4, r6
from us_weather_energy_analysis_pipeline_spark.corpus.registry import load, register
from us_weather_energy_analysis_pipeline_spark.functions.text import (
    ascii_lower,
    ascii_lower_sql,
)

SPAN_K = 8          # tokens per gram (span resolution)
SPAN_MIN_TOKENS = 16  # report spans at least this many tokens long
RESAMPLE_FRAC = 0.5   # temperature resample keeps ~half the corpus
DECON_K = 8           # decontamination gram length
EVAL_SOURCE = "src0"  # held-out eval slice for decontamination
# interpolated into SQL string literals below — keep it quote-free (ADVICE r11)
assert "'" not in EVAL_SOURCE, "EVAL_SOURCE must be quote-free"

_TRANS_DUCK = (
    "translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
    " 'abcdefghijklmnopqrstuvwxyz')"
)

# Shared gram/island CTE chain (DuckDB). Island merge: a duplicated gram
# at pos p covers tokens [p, p+K-1]; a new island starts when p exceeds
# the running max covered end + 1 (strictly past adjacency).
_SPAN_CTES = f"""
    WITH toks AS (
      SELECT doc_id, string_split({_TRANS_DUCK}, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(t[i:i+{SPAN_K}-1], ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(t) - {SPAN_K} + 1)) AS s(i)
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)),
    hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(
                    MAX(pos + {SPAN_K} - 1) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    grp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      FROM isl
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {SPAN_K} - 1 AS span_end
      FROM grp GROUP BY doc_id, isl_id
    )
"""


def duplicated_spans(
    d: DataFrame, k: int = SPAN_K, with_ntok: bool = False
) -> DataFrame:
    """(doc_id, span_start, span_end) — maximal token spans covered by
    k-grams that occur in ≥2 DISTINCT documents (cross-document verbatim
    duplication at k-token resolution; within-document repeats alone do
    not qualify). Factored out so the span property (a planted shared run
    of ≥ k tokens surfaces as one span in every sharing document) is
    testable directly.

    ``with_ntok=True`` carries the per-doc token count (``n_tokens``,
    O(1) ``size`` on the token array the Generate node already holds per
    row) through the pipeline so ratio consumers need no second
    documents scan + join-back branch (r8, −2 jobs in
    doc_span_dup_ratio).

    Scale shape (100 TB): gram explode → gh-keyed dup aggregate
    (map-side combined, skew-safe) → SHUFFLE-HASH join back to the gram
    positions, co-partitioned on gh (the hint builds the small dup set,
    never broadcasts the gram table) → per-doc island merge in a
    document-bounded window (two frames over one sort). No self-join
    ever materializes document pairs; the widest intermediate is the
    gram-position table (~n_tokens rows). The gram subtree is computed
    once per branch (two codegen scans) instead of persisted: the r11
    paired A/B measured the persist+broadcast form 1.08 s vs 0.70 s for
    this shape at sf0.1 (cache fill + broadcast build jobs cost more
    than the second scan; identical rows; BENCH_AB.md r11 — a window
    min/max-over-gh variant matched the speed but buffers hot boilerplate
    grams in one task, a skew hazard this form doesn't have). At 100 TB
    the gram table would be a stored intermediate (compact_parquet
    pattern), making the trade moot.

    Built as ONE ``spark.sql`` statement (r11 build cut) — the staged
    form re-analyzed the accumulated plan at ~8 op boundaries. Consumers
    that want the final projection folded into the same statement pass
    ``select_sql`` (SQL over the ``spans`` CTE)."""
    return _spans_over(_span_grams(d, k, with_ntok), k, with_ntok)


def _span_grams(d: DataFrame, k: int, with_ntok: bool) -> DataFrame:
    ntok = ", CAST(size(t) AS BIGINT) AS n_tokens" if with_ntok else ""
    return d.sparkSession.sql(
        f"""
        SELECT doc_id{ntok}, CAST(i AS BIGINT) AS pos,
               xxhash64(array_join(slice(t, i, {k}), ' ')) AS gh
        FROM (
          SELECT doc_id, explode(sequence(1, size(t) - {k} + 1)) AS i, t
          FROM (SELECT doc_id, split({ascii_lower_sql('trim(text)')}, ' ') AS t
                FROM {{docs}})
          WHERE size(t) >= {k}
        )
        """,
        docs=d,
    )


def _spans_body(k: int, with_ntok: bool) -> str:
    """The island-merge pipeline as CTE text over a ``{grams}`` template
    slot, ending in a ``spans`` CTE — shared by both consumers so each
    registers ONE statement."""
    ntok = ", n_tokens" if with_ntok else ""
    return f"""
    dup AS (
      SELECT gh FROM (
        SELECT gh, min(doc_id) AS _mn, max(doc_id) AS _mx
        FROM {{grams}} GROUP BY gh
      ) WHERE _mn <> _mx
    ),
    hits AS (
      SELECT /*+ SHUFFLE_HASH(dup) */ doc_id{ntok}, pos
      FROM {{grams}} JOIN dup USING (gh)
    ),
    brk AS (
      SELECT doc_id{ntok}, pos,
             CASE WHEN pos > coalesce(MAX(pos + {k} - 1) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl AS (
      SELECT doc_id{ntok}, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS isl_id
      FROM brk
    ),
    spans AS (
      SELECT doc_id{ntok}, MIN(pos) AS span_start, MAX(pos) + {k} - 1 AS span_end
      FROM isl GROUP BY doc_id{ntok}, isl_id
    )
    """


def _spans_over(
    grams: DataFrame, k: int, with_ntok: bool, select_sql: str | None = None
) -> DataFrame:
    ntok = ", n_tokens" if with_ntok else ""
    final = select_sql or f"SELECT doc_id{ntok}, span_start, span_end FROM spans"
    return grams.sparkSession.sql(
        f"WITH {_spans_body(k, with_ntok)} {final}", grams=grams
    )


@register(
    "dedup_substring_spans",
    oracle=_SPAN_CTES
    + f"""
    SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_tokens
    FROM spans
    WHERE span_end - span_start + 1 >= {SPAN_MIN_TOKENS}
    """,
    tags=("text", "dedup", "substring-spans", "lee-et-al"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim duplicated substring spans (Lee et al. 2022 ExactSubstr,
    at k-token gram resolution): every maximal token range ≥
    {SPAN_MIN_TOKENS} tokens whose k-grams all recur in other documents —
    the unit a span-level dedup pass would excise, rather than dropping
    whole documents. See :func:`duplicated_spans` for the 100 TB scale
    shape (one gram-hash shuffle, document-bounded island-merge window,
    no pair materialization)."""
    d = load(spark, sf_dir, "documents")
    return _spans_over(
        _span_grams(d, SPAN_K, with_ntok=False),
        SPAN_K,
        with_ntok=False,
        select_sql=f"""
        SELECT doc_id, span_start, span_end,
               span_end - span_start + 1 AS span_tokens
        FROM spans WHERE span_end - span_start + 1 >= {SPAN_MIN_TOKENS}
        """,
    )


@register(
    "doc_span_dup_ratio",
    oracle=_SPAN_CTES
    + """
    , cov AS (
      -- CAST: DuckDB SUM(BIGINT) yields HUGEINT, which lands in pandas as
      -- float64 (83.0) while Spark emits int64 (83) — the r6 driver hash
      -- compares stringified values per dtype, so the uncasted form
      -- hash-mismatches despite equal values (CORRECTNESS_r06.json).
      SELECT doc_id, CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    ),
    ntok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
    SELECT n.doc_id, n.n_tokens, c.dup_tokens,
           ROUND(CAST(c.dup_tokens AS DOUBLE) / n.n_tokens, 4) AS dup_ratio,
           CASE WHEN c.dup_tokens * 2 >= n.n_tokens THEN 1 ELSE 0 END AS drop_flag
    FROM ntok n JOIN cov c ON n.doc_id = c.doc_id
    """,
    tags=("text", "dedup", "quality", "substring-spans"),
)
def doc_span_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage: what fraction of each
    document's tokens sit inside cross-document verbatim spans, plus the
    'mostly duplicated' drop flag (coverage ≥ 50% — the document-level
    consumer of :func:`duplicated_spans`, Lee et al. 2022 §4's most
    aggressive setting). The flag compares in the exact integer domain
    (dup_tokens·2 ≥ n_tokens), so no float boundary can diverge between
    engines; only the display ratio is floating (4 dp, dround twin)."""
    d = load(spark, sf_dir, "documents")
    # n_tokens rides through the span pipeline (with_ntok) — no second
    # documents scan, no ntok join-back branch; the coverage rollup and
    # final projection fold into the spans statement (r11 build cut)
    return _spans_over(
        _span_grams(d, SPAN_K, with_ntok=True),
        SPAN_K,
        with_ntok=True,
        select_sql=f"""
        SELECT doc_id, n_tokens, dup_tokens,
               {dround_sql('CAST(dup_tokens AS DOUBLE) / n_tokens', 4)} AS dup_ratio,
               CASE WHEN dup_tokens * 2 >= n_tokens THEN 1 ELSE 0 END AS drop_flag
        FROM (
          SELECT doc_id, n_tokens,
                 SUM(span_end - span_start + 1) AS dup_tokens
          FROM spans GROUP BY doc_id, n_tokens
        )
        """,
    )


# 6 hex digits of md5 → exact int (16^6 = 2^24), mod 10⁴ bucket: the
# 0.006% modulo bias is negligible and identical in both engines.
_BUCKET_DUCK = (
    "(("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    + ") % 10000)"
)


def _bucket_sql_spark() -> str:
    """SQL twin of :func:`_bucket_spark` (r11 single-statement builders)."""
    return (
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10)"
        " AS BIGINT) % 10000"
    )


def _bucket_spark() -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 10000
    )


@register(
    "corpus_temperature_resample",
    oracle=f"""
    WITH lc AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (
      SELECT SUM(n_docs) AS n_total,
             SUM(SQRT(CAST(n_docs AS DOUBLE))) AS w_total
      FROM lc
    ),
    rates AS (
      SELECT lang, n_docs,
             LEAST(1.0,
               ((CAST(n_total AS DOUBLE) * {RESAMPLE_FRAC}) *
                (SQRT(CAST(n_docs AS DOUBLE)) / w_total)) /
               CAST(n_docs AS DOUBLE)) AS rate
      FROM lc, tot
    ),
    docs AS (SELECT lang, {_BUCKET_DUCK} AS bucket FROM documents)
    SELECT r.lang, r.n_docs,
           ROUND(r.rate, 4) AS sample_rate,
           COUNT(*) FILTER (
             WHERE d.bucket < CAST(FLOOR(r.rate * 10000 + 0.5) AS BIGINT)
           ) AS n_kept,
           ROUND(CAST(COUNT(*) FILTER (
             WHERE d.bucket < CAST(FLOOR(r.rate * 10000 + 0.5) AS BIGINT)
           ) AS DOUBLE) / r.n_docs, 4) AS achieved_rate
    FROM docs d JOIN rates r USING (lang)
    GROUP BY r.lang, r.n_docs, r.rate
    """,
    tags=("sampling", "temperature", "multilingual", "deterministic"),
)
def corpus_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling of the language mix: target share
    q_l ∝ n_l^α with α = 0.5 (the XLM-R-style up-weighting of low-resource
    languages), total budget {RESAMPLE_FRAC:.0%} of the corpus, per-lang
    accept rate min(1, budget·q_l/n_l). Selection is the md5-bucket
    predicate (deterministic across engines/reruns — auditable, unlike
    rand()); α = 0.5 is computed as SQRT, which IEEE 754 requires to be
    correctly rounded, so both engines derive bit-identical weights (a
    general pow() would carry a 1-ulp cross-engine risk). The int
    threshold floor(rate·10⁴ + 0.5) keeps the per-doc comparison in the
    integer domain. Returns the per-language audit table.

    Scale shape (100 TB): the per-language rate table is a tiny aggregate
    (cardinality = #languages) broadcast back onto the corpus scan; the
    document pass is map-side except the final audit aggregate."""
    import math

    from us_weather_energy_analysis_pipeline_spark.session import local_df

    d = load(spark, sf_dir, "documents")
    # The per-language rate table is cardinality-of-#languages tiny, but
    # expressing it as lc→tot→crossJoin plan-side costs a cache fill plus
    # an AQE-materialized exchange per stage (8 jobs measured at sf0.1).
    # Collect the counts in ONE job and derive the rates driver-side with
    # the SAME IEEE op order as the oracle SQL — ((N·frac)·(√n/W))/n, √ is
    # correctly rounded by IEEE 754 in Python/JVM/DuckDB alike — then
    # re-inject as a job-free Arrow LocalRelation (session.local_df) that
    # broadcasts into the corpus scan. W sums in sorted-lang order; the
    # engines' own SUM orders differ too (accepted 1-ulp class, absorbed
    # by the floor(rate·10⁴+0.5) threshold being ~never within 1e-12 of
    # a boundary).
    lc_rows = sorted(
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).collect(),
        key=lambda r: (r["lang"] is None, r["lang"]),
    )
    n_total = float(sum(r["n_docs"] for r in lc_rows))
    w_total = sum(math.sqrt(float(r["n_docs"])) for r in lc_rows)
    rates = local_df(
        spark,
        [
            (
                r["lang"],
                r["n_docs"],
                min(
                    1.0,
                    (
                        (n_total * RESAMPLE_FRAC)
                        * (math.sqrt(float(r["n_docs"])) / w_total)
                    )
                    / float(r["n_docs"]),
                ),
            )
            for r in lc_rows
        ],
        "lang string, n_docs long, rate double",
    )
    # the scan→broadcast-join→audit-agg above the rate table is ONE
    # spark.sql statement (r11 build cut)
    bucket = _bucket_sql_spark()
    kept = "count(CASE WHEN bucket < CAST(floor(rate * 10000 + 0.5) AS BIGINT) THEN 1 END)"
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(r) */ lang, n_docs,
               {dround_sql('rate', 4)} AS sample_rate,
               {kept} AS n_kept,
               {dround_sql(f'CAST({kept} AS DOUBLE) / n_docs', 4)}
                 AS achieved_rate
        FROM (SELECT lang, {bucket} AS bucket FROM {{docs}})
        JOIN {{r}} r USING (lang)
        GROUP BY lang, n_docs, rate
        """,
        docs=d,
        r=rates,
    )


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split({_TRANS_DUCK}, ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source, array_to_string(t[i:i+{DECON_K}-1], ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(t) - {DECON_K} + 1)) AS s(i)
    ),
    eg AS (SELECT DISTINCT g FROM grams WHERE source = '{EVAL_SOURCE}'),
    tg AS (
      SELECT DISTINCT doc_id, source, g
      FROM grams WHERE source <> '{EVAL_SOURCE}'
    )
    SELECT doc_id, source, COUNT(*) AS n_shared
    FROM tg JOIN eg USING (g)
    GROUP BY doc_id, source
    """,
    tags=("text", "decontamination", "ngram", "semi-join"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram overlap decontamination (GPT-3 appendix C: flag training
    documents sharing any k-gram with the held-out eval set — here the
    '{EVAL_SOURCE}' source stands in for the benchmark suite). Finer than
    ``decontamination_check``'s whole-document fingerprint: a training
    document that embeds one eval paragraph is caught. Returns every
    contaminated training document with its shared-distinct-gram count
    (the evidence a removal pass acts on).

    Scale shape (100 TB): the eval gram set is small by construction
    (eval suites are MBs, not TBs) → broadcast inner join against the
    training gram stream FIRST, so the per-document distinct+count
    shuffle carries only MATCHED grams — contamination is rare by
    construction, so the exchange shrinks from ~n_tokens rows to the
    handful of shared grams (r7 rewrite; the old shape distinct'd the
    full training gram stream before joining: 0.87-0.96 → 0.75 s
    replicated at sf0.1, identical output, and the win grows with the
    training side). The gram projection inlines into both branches —
    their DISJOINT source filters push into separate parquet scans, so
    nothing is computed twice and nothing needs a cache. A 64-bit gram-hash
    collision would overcount n_shared (vanishing odds, and the
    string-keyed oracle doubles as the collision check at test SFs)."""
    return decontaminate_from(load(spark, sf_dir, "documents"))


def _decon_grams(d: DataFrame) -> DataFrame:
    """(doc_id, source, gh) 64-bit k-gram hash table both
    decontamination variants consume. Deliberately NOT persisted (r14):
    the consumers filter it on DISJOINT source predicates (eval vs
    training), and those filters push through the gram Generate into
    the parquet scans — the 'shared' pass was never shared work, so a
    cache would materialize the full corpus gram table (≫ input size)
    only to save nothing. Plan-confirmed: the inlined form's two scans
    carry PushedFilters EqualTo(source, eval) / Not(EqualTo(...)); the
    cached form measured ~2x slower at sf0.1.

    gh hashes the k tokens as SEPARATE xxhash64 arguments (r15): the
    hash state chains per argument, so token boundaries stay distinct
    (("ab","c") ≠ ("a","bc")) without materializing the joined gram
    string — one ~50-byte allocation per gram removed from the hot
    projection (guide §4.1). gh is Spark-internal either way: the
    DuckDB twin joins on the RAW gram strings, so it doubles as the
    collision check at test SFs, and any uniform 64-bit family gives
    the same n_shared up to ~n²/2⁶⁴ collisions (paired A/B at sf0.1:
    never slower, up to 25% off the check query's data term)."""
    gram_hash = ", ".join(f"element_at(t, i + {j})" for j in range(DECON_K))
    return d.sparkSession.sql(
        f"""
        SELECT doc_id, source,
               xxhash64({gram_hash}) AS gh
        FROM (
          SELECT doc_id, source,
                 explode(sequence(1, size(t) - {DECON_K} + 1)) AS i, t
          FROM (SELECT doc_id, source,
                       split({ascii_lower_sql('trim(text)')}, ' ') AS t
                FROM {{docs}})
          WHERE size(t) >= {DECON_K}
        )
        """,
        docs=d,
    )


def decontaminate_from(d: DataFrame) -> DataFrame:
    """The ``decontaminate_ngram_overlap`` plan over an arbitrary
    (doc_id, source, text) frame — exposed so the ×16 training-side
    scale probe can drive the exact production plan."""
    # TWO spark.sql statements (r11 build cut): the gram table +
    # everything above it. broadcast-join FIRST, dedup after: count
    # (DISTINCT gh) over the matched stream ≡ count(*) over
    # distinct-then-joined, but the distinct's exchange now carries only
    # shared grams. The {grams} references inline (no persist — see
    # _decon_grams): each branch's source filter pushes to its own scan.
    grams = _decon_grams(d)
    return d.sparkSession.sql(
        f"""
        WITH eg AS (
          SELECT DISTINCT gh FROM {{grams}} WHERE source = '{EVAL_SOURCE}'
        )
        SELECT /*+ BROADCAST(eg) */ doc_id, source,
               count(DISTINCT gh) AS n_shared
        FROM (SELECT doc_id, source, gh FROM {{grams}}
              WHERE NOT (source = '{EVAL_SOURCE}'))
        JOIN eg USING (gh)
        GROUP BY doc_id, source
        """,
        grams=grams,
    )


# Bloom pre-filter sizing for the scale-shape decontamination twin.
# BLOOM_BITS is a compile-time literal (the dense vector is
# BLOOM_BITS/64 bigints = 32 KiB at 2^18 — a broadcast scalar); ~23
# bits per distinct eval gram at the largest test SF (11.5k @ sf0.1)
# → fpp ≈ 0.2% at k=3. The r12 sizing sweep (BENCH_AB.md): 2^20/k=5
# 1.48 s, 2^18/k=5 1.07 s, 2^18/k=3 0.80 s, 2^16/k=3 0.82 s — probe
# passes and vector build both scale with the literals, so size for
# the eval corpus, not "bigger is safer".
BLOOM_BITS = 1 << 18
BLOOM_K = 3


def _bloom_pos(j: int) -> str:
    """j-th double-hash probe position for the gram hash ``gh`` —
    xxhash64(gh, j) gives an independent 64-bit family per literal j."""
    return f"pmod(xxhash64(gh, {j}), {BLOOM_BITS})"


def _bloom_probe(p: str) -> str:
    """Membership test of one precomputed position column ``p`` against
    the broadcast DENSE bitmask vector ``bv`` (array<bigint>, 1-based
    index). An array, not a map: Spark's ``element_at`` on MapData is a
    LINEAR key scan (measured 4.5 s vs 0.3 s on the sf0.1 probe —
    BENCH_AB.md r12); ArrayData indexing is O(1)."""
    return (
        f"(element_at(bv, CAST({p} DIV 64 AS INT) + 1) & "
        f"shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))) <> 0"
    )


@register(
    "decontaminate_bloom_prefilter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split({_TRANS_DUCK}, ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source, array_to_string(t[i:i+{DECON_K}-1], ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(t) - {DECON_K} + 1)) AS s(i)
    ),
    eg AS (SELECT DISTINCT g FROM grams WHERE source = '{EVAL_SOURCE}'),
    tg AS (
      SELECT DISTINCT doc_id, source, g
      FROM grams WHERE source <> '{EVAL_SOURCE}'
    )
    SELECT doc_id, source, COUNT(*) AS n_shared
    FROM tg JOIN eg USING (g)
    GROUP BY doc_id, source
    """,
    tags=("text", "decontamination", "ngram", "bloom", "semi-join"),
)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a Bloom pre-filter: a Bloom mask built
    from SQL primitives over the eval grams keeps the full training gram
    stream out of the exact join — only grams that pass the mask reach
    it, and the exact join removes the mask's false positives. Output is
    identical to ``decontaminate_ngram_overlap`` (same oracle) — the
    Bloom side is a pure pre-filter. The operator was first motivated
    (r11) by eval gram sets too large to broadcast; r15 retired that
    framing, because both sides are broadcast now: the mask as one
    scalar array and the distinct eval gram set in the exact join.

    Construction (no native ``bloom_filter_agg`` — Spark 4.1 registers
    that expression only inside runtime-filter injection, not in the
    SQL function registry): each distinct eval gram hash sets BLOOM_K
    double-hashed bit positions; positions fold into ≤ BLOOM_BITS/64
    bigint words via partial-aggregated ``bit_or`` (the eval exchange
    carries words, not grams — mergeable sketch semantics), and the
    words densify into ONE broadcast scalar ``array<bigint>`` (sparse
    word rows left-joined onto the full index spine, sorted, projected —
    an array, not a map: MapData ``element_at`` is a linear key scan,
    ArrayData indexing is O(1); 4.5 → 0.3 s measured, BENCH_AB.md r12).
    Training grams test membership row-locally (k array probes + bit
    tests, no explode); survivors — shared grams plus the
    ~0.2% Bloom false positives — enter a BROADCAST exact join on the
    distinct eval gram set (r15, VERDICT r14 item 4: eval suites are MBs
    by construction — the same size argument that lets the mask itself
    broadcast — so the r12-r14 SHUFFLE_HASH shape paid a survivors
    exchange on gh for a too-big-to-broadcast regime this operator's
    own sizing comment rules out; paired A/B at sf0.1 replicated
    0.1-0.3 s in favor of the broadcast, and at scale it removes the
    only corpus-sized exchange left in the plan). The r14 eval-gram
    persist is gone too (r15): its fixed cache-fill jobs cost more than
    re-deriving the MB-scale eval grams in each of the two consumers —
    see ``decontaminate_bloom_from``."""
    return decontaminate_bloom_from(load(spark, sf_dir, "documents"))


def decontaminate_bloom_from(d: DataFrame) -> DataFrame:
    """The ``decontaminate_bloom_prefilter`` plan over an arbitrary
    (doc_id, source, text) frame — exposed for the training-side scale
    probe, mirroring ``decontaminate_from``."""
    spark = d.sparkSession
    grams = _decon_grams(d)
    # NO persist here (r15, VERDICT r14 item 4): the r14 eval-gram cache
    # bought one fewer eval-branch pass at the price of ~2 fixed
    # cache-fill jobs per run, on a query whose eval side is tiny BY
    # CONTRACT (eval suites are MBs — the same sizing argument that lets
    # the mask broadcast). Paired A/B at sf0.1 (clean floor): cached
    # 1.31-1.52 s / 11 jobs, uncached 0.78-0.96 s / 9 jobs, replicated
    # over 3 rounds; at 100 TB both shapes stream the training side once
    # and re-deriving the MB-scale eval grams twice is noise. The two
    # eval consumers therefore inline: the exact join takes the DISTINCT
    # eval grams; the Bloom mask explodes positions from the RAW eval
    # gram stream — bit_or absorbs duplicates, so the mask is
    # bit-identical and the mask branch drops the distinct's exchange.
    pos_cols = ", ".join(f"{_bloom_pos(j)} AS p{j}" for j in range(BLOOM_K))
    probes = " AND ".join(_bloom_probe(f"p{j}") for j in range(BLOOM_K))
    return spark.sql(
        f"""
        WITH eg AS (
          SELECT DISTINCT gh FROM {{grams}} WHERE source = '{EVAL_SOURCE}'
        ),
        pos AS (
          SELECT explode(array({", ".join(_bloom_pos(j) for j in range(BLOOM_K))})) AS p
          FROM {{grams}} WHERE source = '{EVAL_SOURCE}'
        ),
        words AS (
          SELECT CAST(p DIV 64 AS INT) AS w,
                 bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) AS mask
          FROM pos GROUP BY w
        ),
        bloom AS (
          -- coalesce: words with NO set bits come back NULL from the left
          -- join; leaving them NULL would make the probe predicate
          -- three-valued (NULL & x <> 0 -> NULL), which happens to filter
          -- correctly under AND-in-WHERE but would silently change
          -- semantics if a probe were ever negated or projected. Zero
          -- keeps membership tests two-valued.
          SELECT transform(array_sort(collect_list(struct(s.w, dense.mask))),
                           e -> coalesce(e.mask, CAST(0 AS BIGINT))) AS bv
          FROM (SELECT explode(sequence(0, {BLOOM_BITS // 64 - 1})) AS w) s
          LEFT JOIN (SELECT w, mask FROM words) dense USING (w)
        ),
        survivors AS (
          SELECT doc_id, source, gh
          FROM (SELECT doc_id, source, gh, {pos_cols}
                FROM {{grams}} WHERE NOT (source = '{EVAL_SOURCE}')), bloom
          WHERE {probes}
        )
        SELECT /*+ BROADCAST(eg) */ doc_id, source,
               count(DISTINCT gh) AS n_shared
        FROM survivors JOIN eg USING (gh)
        GROUP BY doc_id, source
        """,
        grams=grams,
    )


# ---------------------------------------------------------------------------
# HTML / boilerplate stripping (trafilatura-class normalization, native exprs)
# ---------------------------------------------------------------------------
# The corpus stores extracted text, so the registered query first WRAPS each
# document in a deterministic 4-line HTML page (nav with links, the document
# body, a mixed related-links line whose anchor share varies per doc, a
# footer) — identically on both engines — and then genuinely strips it:
# tag removal, entity decode, whitespace collapse, and the jusText/
# trafilatura link-density line filter. The strip chain is the operator
# under test; the wrapper only manufactures realistic input from the
# corpus tables (TESTDATA contract: no out-of-band inputs).

LINK_DENSITY_MAX = 0.5  # drop lines whose anchor-text share exceeds this


def _decode_entities_duck(e: str) -> str:
    """Entity-decode chain (SQL). Tags are stripped FIRST, entities decoded
    after (so a decoded ``&lt;tag&gt;`` can't be re-stripped), ``&amp;``
    decoded LAST (a correct decoder never double-decodes)."""
    out = f"regexp_replace({e}, '<[^>]*>', ' ', 'g')"
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&nbsp;", " "), ("&amp;", "&")):
        out = f"replace({out}, '{ent}', '{ch}')"
    return f"trim(regexp_replace({out}, ' +', ' ', 'g'))"


@register(
    "html_boilerplate_strip",
    oracle=f"""
    WITH built AS (
      SELECT doc_id,
             [concat_ws('', '<div class="nav"><a href="/">Home</a> <a href="/s',
                        CAST(doc_id % 7 AS VARCHAR), '">Sec &amp; ',
                        CAST(doc_id % 7 AS VARCHAR), '</a></div>'),
              concat_ws('', '<p>', text, ' &amp; more &lt;tail&gt;</p>'),
              concat_ws('', '<p>See <a href="/m">',
                        substr(text, 1, CAST(8 + doc_id % 40 AS INTEGER)),
                        '</a> for details</p>'),
              '<footer><a href="/about">About</a> <a href="/terms">&quot;Terms&quot;</a></footer>'
             ] AS lines
      FROM documents
    ),
    lined AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS line_no, lines[i] AS line
      FROM built, UNNEST(generate_series(1, 4)) AS s(i)
    ),
    scored AS (
      SELECT doc_id, line_no,
             {_decode_entities_duck('line')} AS clean,
             {_decode_entities_duck("coalesce(array_to_string(regexp_extract_all(line, '<a[^>]*>(.*?)</a>', 1), ' '), '')")} AS clean_a
      FROM lined
    )
    SELECT doc_id, line_no,
           CAST(length(clean) AS BIGINT) AS n_clean_chars,
           ROUND(CASE WHEN length(clean) = 0 THEN 1.0
                      ELSE length(clean_a) / CAST(length(clean) AS DOUBLE)
                 END, 6) AS link_density,
           CASE WHEN length(clean) > 0
                 AND length(clean_a) / CAST(length(clean) AS DOUBLE)
                     <= {LINK_DENSITY_MAX}
                THEN 1 ELSE 0 END AS kept,
           substr(clean, 1, 48) AS clean_prefix
    FROM scored
    """,
    tags=("text", "normalization", "html", "boilerplate"),
)
def html_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/boilerplate stripping — the trafilatura/jusText-class
    normalization pass every web-scrape training pipeline runs first:
    strip tags, decode entities, collapse whitespace, and drop
    link-dense lines (nav/footer chrome) by anchor-text share. Emits one
    row per line with its cleaned length, link density, keep flag, and
    cleaned prefix, so a downstream pass can reassemble kept content.

    Plan shape: pure per-row expressions — build the page, explode 4
    lines, run the regexp/replace chain (all JVM codegen, no Python) —
    zero shuffle, one job, embarrassingly parallel at any scale; at
    100 TB this runs at scan speed with full column pruning (only
    doc_id/text read). Tags stripped BEFORE entity decode so decoded
    ``&lt;tag&gt;`` text cannot be re-stripped; ``&amp;`` decoded last so
    nothing double-decodes. Link density = cleaned anchor chars /
    cleaned line chars — a ratio of two exact integers, so the
    {LINK_DENSITY_MAX} threshold compares identical doubles on both
    engines; the reported value is dround'd per the corpus float
    contract. NULL text: concat_ws skips it on both engines, so the
    body line degrades to its static wrapper instead of nulling out."""
    d = load(spark, sf_dir, "documents")
    # ONE spark.sql statement (r11 build cut — plan identical to the
    # staged Column form). Tag-strip before entity-decode, & decoded
    # last — the same chain as the DuckDB twin.

    def clean_chain(e: str) -> str:
        out = f"regexp_replace({e}, '<[^>]*>', ' ')"
        for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                        ("&nbsp;", " "), ("&amp;", "&")):
            out = f"replace({out}, '{ent}', '{ch}')"
        return f"trim(regexp_replace({out}, ' +', ' '))"

    sec = "CAST(doc_id % 7 AS STRING)"
    lines = f"""array(
      concat_ws('', '<div class="nav"><a href="/">Home</a> <a href="/s', {sec},
                '">Sec &amp; ', {sec}, '</a></div>'),
      concat_ws('', '<p>', text, ' &amp; more &lt;tail&gt;</p>'),
      concat_ws('', '<p>See <a href="/m">',
                substring(text, 1, CAST(8 + doc_id % 40 AS INT)),
                '</a> for details</p>'),
      '<footer><a href="/about">About</a> <a href="/terms">&quot;Terms&quot;</a></footer>')"""
    anchors = "array_join(regexp_extract_all(line, '<a[^>]*>(.*?)</a>', 1), ' ')"
    density = "length(clean_a) / CAST(length(clean) AS DOUBLE)"
    return spark.sql(
        f"""
        WITH lined AS (
          SELECT doc_id, posexplode({lines}) AS (line_no, line) FROM {{docs}}
        ),
        scored AS (
          SELECT doc_id, line_no,
                 {clean_chain('line')} AS clean,
                 {clean_chain(anchors)} AS clean_a
          FROM lined
        )
        SELECT doc_id, line_no,
               CAST(length(clean) AS BIGINT) AS n_clean_chars,
               {dround_sql(f'CASE WHEN length(clean) = 0 THEN 1.0D ELSE {density} END', 6)}
                 AS link_density,
               CASE WHEN length(clean) > 0 AND {density} <= {LINK_DENSITY_MAX}D
                    THEN 1 ELSE 0 END AS kept,
               substring(clean, 1, 48) AS clean_prefix
        FROM scored
        """,
        docs=d,
    )


# ---------------------------------------------------------------------------
# PII redaction (email / SSN / phone / IPv4 scrub, native regexp codegen)
# ---------------------------------------------------------------------------
# The last common LLM-preprocessing family (C4/RefinedWeb/Dolma all run a
# PII scrub before training). The corpus text is synthetic, so — exactly
# like html_boilerplate_strip's page wrapper — the query first builds a
# deterministic PII-laden page per document (one guaranteed email + IPv4,
# a phone for every 3rd doc, an SSN for every 4th, identically on both
# engines), then genuinely scrubs it: per-category hit counts on the raw
# page plus a category-token redaction chain applied in a fixed order.
# Patterns use only the Java-regex ∩ RE2 dialect intersection (ASCII \d,
# \b word boundary, bounded repetition) — no backrefs, no lookaround.

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
PII_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# Redaction order is load-bearing: SSN (3-2-4) before phone (3-3-4) so a
# phone can never consume an SSN's digits; IPv4 last so a dotted phone
# is already a token before octet matching runs.
PII_CHAIN = (
    (PII_EMAIL_RE, "<EMAIL>", "email"),
    (PII_SSN_RE, "<SSN>", "ssn"),
    (PII_PHONE_RE, "<PHONE>", "phone"),
    (PII_IP_RE, "<IP>", "ip"),
)


def _pii_page_sql(cast_t: str) -> str:
    """The deterministic PII-laden page, as SQL valid on BOTH engines
    (``cast_t``: STRING for Spark, VARCHAR for DuckDB — same semantics).
    concat_ws skips the NULL branches (and NULL text) on both engines."""
    c = lambda e: f"CAST({e} AS {cast_t})"  # noqa: E731
    return (
        "concat_ws(' ', "
        f"concat('user', {c('doc_id')}, '@mail', {c('doc_id % 5')}, '.example.org'), "
        "text, "
        "CASE WHEN doc_id % 3 = 0 THEN concat('call 415-', "
        f"lpad({c('doc_id % 1000')}, 3, '0'), '-', lpad({c('doc_id % 10000')}, 4, '0')) "
        "ELSE 'call later' END, "
        "CASE WHEN doc_id % 4 = 1 THEN concat('ssn ', "
        f"lpad({c('doc_id % 900')}, 3, '0'), '-', lpad({c('doc_id % 90')}, 2, '0'), "
        f"'-', lpad({c('doc_id % 9000')}, 4, '0')) END, "
        f"concat('from 10.', {c('doc_id % 256')}, '.', {c('(doc_id * 7) % 256')}, "
        f"'.', {c('doc_id % 100')}))"
    )


def _re_sql(pat: str, spark_side: bool) -> str:
    """Embed a regex as a SQL string literal. Spark's parser treats
    backslash as an escape inside literals (escapedStringLiterals=false
    default), DuckDB does not."""
    body = pat.replace("\\", "\\\\") if spark_side else pat
    return "'" + body.replace("'", "''") + "'"


def _pii_exprs(spark_side: bool) -> tuple[list[str], str]:
    """(per-category count exprs, redacted-page expr) for either engine.
    Counts run on the RAW page (order-independent); the redaction chain
    nests regexp_replace in the fixed PII_CHAIN order."""
    counts = []
    red = "page"
    for pat, token, cat in PII_CHAIN:
        lit = _re_sql(pat, spark_side)
        if spark_side:
            # native regexp_count (pyspark 4.1): same non-overlapping match
            # count as size(regexp_extract_all(...)) without materializing
            # every match string into an array per row (VERDICT r11 task 2;
            # paired A/B in BENCH_AB.md r12)
            counts.append(f"CAST(regexp_count(page, {lit}) AS BIGINT) AS n_{cat}")
            red = f"regexp_replace({red}, {lit}, '{token}')"
        else:
            counts.append(
                f"CAST(length(regexp_extract_all(page, {lit})) AS BIGINT) AS n_{cat}"
            )
            red = f"regexp_replace({red}, {lit}, '{token}', 'g')"
    return counts, red


_PII_COUNTS_SPARK, _PII_RED_SPARK = _pii_exprs(spark_side=True)
_PII_COUNTS_DUCK, _PII_RED_DUCK = _pii_exprs(spark_side=False)


@register(
    "pii_redact_scrub",
    oracle=f"""
    WITH paged AS (
      SELECT doc_id, {_pii_page_sql('VARCHAR')} AS page FROM documents
    ),
    counted AS (
      SELECT doc_id, {', '.join(_PII_COUNTS_DUCK)}, {_PII_RED_DUCK} AS redacted
      FROM paged
    )
    SELECT doc_id, n_email, n_ssn, n_phone, n_ip,
           n_email + n_ssn + n_phone + n_ip AS n_pii,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           substr(redacted, 1, 80) AS redacted_prefix
    FROM counted
    """,
    tags=("text", "pii", "redaction", "cleanse"),
)
def pii_redact_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — per-document email/SSN/phone/IPv4 hit counts plus
    the scrubbed text (category tokens substituted in a fixed chain
    order). Counts are computed on the raw page so they are independent
    of redaction order; the redaction itself applies PII_CHAIN in order.

    Plan shape: pure per-row JVM regexp expressions over one projected
    scan (doc_id, text) — zero shuffle, one job, whole-stage codegen; at
    100 TB this runs at scan speed with full column pruning. Built as
    ONE selectExpr chain (plan-build cost ~a dozen py4j calls — the r10
    build-survey discipline applied from first registration).

    Reference surface: extends the cleanse/normalization family
    (SURVEY §2.10 corpus extensions); no reference twin — the reference
    pipeline has no text-scrub stage (closest is outlier nulling,
    reference/src/pipeline.py:60-75)."""
    d = load(spark, sf_dir, "documents")
    return d.selectExpr(
        "doc_id", _pii_page_sql("STRING") + " AS page"
    ).selectExpr(
        "doc_id",
        *_PII_COUNTS_SPARK,
        f"{_PII_RED_SPARK} AS redacted",
    ).selectExpr(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ip",
        "n_email + n_ssn + n_phone + n_ip AS n_pii",
        "CAST(length(redacted) AS BIGINT) AS redacted_len",
        "substr(redacted, 1, 80) AS redacted_prefix",
    )


# ---------------------------------------------------------------------------
# URL/domain-level throttling (C4/RefinedWeb-style per-domain caps)
# ---------------------------------------------------------------------------
# Web-scale corpora cap documents per registrable domain so crawl-heavy
# hosts can't dominate the training mix. `documents` has no url column,
# so the query synthesizes a deterministic one per doc (5 "popular" hosts
# absorbing half the corpus + a 211-host long tail — a skewed-key shape on
# purpose), extracts the host with Spark's native parse_url (regexp twin
# in DuckDB), and ranks each document within its domain.

DOMAIN_CAP = 8  # keep at most this many docs per host (C4-style throttle)

_URL_SQL = (
    "concat('https://', CASE WHEN doc_id % 4 < 2 "
    "THEN concat('popular', CAST(doc_id % 5 AS {T}), '.example.com') "
    "ELSE concat('site', CAST(doc_id % 211 AS {T}), '.example.com') END, "
    "'/doc/', CAST(doc_id AS {T}))"
)


@register(
    "url_domain_throttle",
    oracle=f"""
    WITH urled AS (
      SELECT doc_id, {_URL_SQL.format(T='VARCHAR')} AS url FROM documents
    ),
    hosted AS (
      SELECT doc_id, url,
             regexp_extract(url, '^https?://([^/]+)/', 1) AS host
      FROM urled
    )
    SELECT doc_id, host,
           CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) AS BIGINT)
             AS domain_rank,
           CAST(count(*) OVER (PARTITION BY host) AS BIGINT) AS domain_docs,
           CASE WHEN row_number() OVER (PARTITION BY host ORDER BY doc_id)
                     <= {DOMAIN_CAP} THEN 1 ELSE 0 END AS kept
    FROM hosted
    """,
    tags=("dedup", "url", "domain", "sampling"),
)
def url_domain_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain-level throttling — synthesize a deterministic url per
    document, extract its host (native ``parse_url`` on the Spark side,
    regexp twin in DuckDB), and emit each doc's rank within its domain,
    the domain's total doc count, and the C4-style keep flag
    (``domain_rank <= DOMAIN_CAP``).

    Plan shape: ONE exchange — the window partitionBy(host); row_number
    and count(*) share the partition spec so a single WindowExec computes
    both (pinned by tests/test_plans.py). At 100 TB the host key is the
    natural skew axis; the synthetic mix (5 hosts holding half the docs)
    deliberately exercises it — per-host work is a streaming rank, not a
    buffered agg, so a hot host costs one fat task, not a spill. The rank
    tie-breaks on doc_id (unique), so output is deterministic.

    ``kept`` references ``domain_rank`` through the CTE instead of
    repeating the ``row_number() OVER (...)`` expression (convention #4,
    COVERAGE.md; VERDICT r11 task 6) — the WindowExec now evaluates the
    rank once, and the whole query is ONE ``spark.sql`` statement."""
    d = load(spark, sf_dir, "documents")
    return spark.sql(
        f"""
        WITH hosted AS (
          SELECT doc_id, parse_url(url, 'HOST') AS host
          FROM (SELECT doc_id, {_URL_SQL.format(T='STRING')} AS url
                FROM {{docs}})
        ),
        ranked AS (
          SELECT doc_id, host,
                 CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
                      AS BIGINT) AS domain_rank,
                 CAST(count(*) OVER (PARTITION BY host) AS BIGINT)
                      AS domain_docs
          FROM hosted
        )
        SELECT doc_id, host, domain_rank, domain_docs,
               CASE WHEN domain_rank <= {DOMAIN_CAP} THEN 1 ELSE 0 END AS kept
        FROM ranked
        """,
        docs=d,
    )
