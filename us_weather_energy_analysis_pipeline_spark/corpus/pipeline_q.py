"""Composed end-to-end dedup pipeline — the advertised 100 TB shape as
ONE oracle-checked query, not just its stages:

    MinHash/LSH candidates  →  exact verify (bounded edit distance)
    →  connected components  →  per-document keep/drop decision.

Scale posture of the composition: the only pair-producing join is the
LSH band-bucket join (O(n²) never materializes); the expensive exact
verifier (Levenshtein, O(len²) per pair) runs ONLY on the candidate
pairs; components run on the verified edge list (tiny relative to the
corpus — that is the point of blocking); the final keep/drop is a
broadcast-sized left join back to the corpus. Each stage is certified
separately elsewhere (dedup_minhash_lsh, dedup_edit_distance,
dedup_cluster_assign); this entry certifies the composition.

Reference parity: the reference pipeline dedupes nothing (its ETL is
`src/data_processor.py:6-112`); this is the LLM-training-data extension
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.functions.text import ascii_lower

from us_weather_energy_analysis_pipeline_spark.corpus.dedup_q import _minhash_ctes
from us_weather_energy_analysis_pipeline_spark.corpus.registry import load, register

EST_JACCARD_MIN = 0.25  # LSH candidate gate: ≥3 of 12 signature positions agree
HEAD_CHARS = 80  # bounded verify slice — caps Levenshtein's O(len²) per pair
EDIT_MAX = 40


def _pipeline_oracle() -> str:
    k = 12
    head = f"substr(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), 1, {HEAD_CHARS})"
    return f"""
    WITH RECURSIVE {_minhash_ctes()},
    scored AS (
      SELECT c.doc_a, c.doc_b,
             list_sum(list_transform(generate_series(1, {k}),
                 i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
               / {k}.0 AS est
      FROM cands c
      JOIN sig sa ON c.doc_a = sa.doc_id
      JOIN sig sb ON c.doc_b = sb.doc_id
    ),
    verified AS (
      SELECT s.doc_a, s.doc_b
      FROM scored s
      JOIN (SELECT doc_id, {head} AS head FROM documents) da ON s.doc_a = da.doc_id
      JOIN (SELECT doc_id, {head} AS head FROM documents) db ON s.doc_b = db.doc_id
      WHERE s.est >= {EST_JACCARD_MIN}
        AND levenshtein(da.head, db.head) <= {EDIT_MAX}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM verified
      UNION
      SELECT doc_b AS a, doc_a AS b FROM verified
    ),
    reach(node, comp) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.node
    ),
    comp AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.comp, d.doc_id) AS cluster_id,
           CASE WHEN c.node IS NULL OR c.node = c.comp THEN 1 ELSE 0 END AS is_kept
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """


@register(
    "dedup_pipeline_e2e",
    oracle=_pipeline_oracle(),
    tags=("dedup", "pipeline", "lsh", "components", "e2e"),
)
def dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH → verify → components → keep/drop, end to end. Returns one row
    per document: (doc_id, cluster_id, is_kept) — cluster_id is the
    smallest doc_id in the near-dup component (own id for docs with no
    dup), is_kept = 1 for the canonical survivor and all non-dups."""
    from us_weather_energy_analysis_pipeline_spark.operators.components import (
        dedup_clusters,
    )
    from us_weather_energy_analysis_pipeline_spark.operators.dedup import (
        minhash_near_dups,
    )

    from us_weather_energy_analysis_pipeline_spark.operators import cache

    d = load(spark, sf_dir, "documents")
    # cands feeds two consumers below (the candidate-id semi-join and
    # the verify join) — persist so the LSH signature pass runs once.
    # Plain df-API joins, so cache.track suffices (the spark.sql
    # parameter-uncache trap does not apply here).
    cands = cache.track(
        minhash_near_dups(d, threshold=EST_JACCARD_MIN).select("doc_a", "doc_b")
    )
    heads = d.select(
        "doc_id",
        F.substring(ascii_lower(F.trim(F.col("text"))), 1, HEAD_CHARS).alias("head"),
    )
    # Verify stage as ONE streaming pass over the text column (r15,
    # VERDICT r14 item 2 — the r14 semi-join reduction kept one text
    # read but spent ~6 fixed-cost jobs on it: a ch persist+fill, an id
    # broadcast and two candidate-heads broadcasts that AQE builds
    # independently, plan-confirmed). The pair list itself is the small
    # side (bounded by the LSH candidates — that is the point of
    # blocking), so broadcast IT, exploded to one row per pair SIDE, and
    # stream the corpus heads through a single broadcast-hash join; a
    # conditional-aggregate regroup on (doc_a, doc_b) reassembles
    # head_a/head_b. Shapes at scale: text column read ONCE, the corpus
    # is never shuffled, and the only exchange carries candidate pairs
    # (tiny). Jobs 14 → 10 at sf0.1, result set bit-identical (paired
    # A/B + full collect parity, OPTIMIZATION_r15.md).
    ex = cands.select(
        "doc_a", "doc_b", F.posexplode(F.array("doc_a", "doc_b")).alias("side", "doc_id")
    )
    verified = (
        heads.join(F.broadcast(ex), "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(F.when(F.col("side") == 0, F.col("head"))).alias("head_a"),
            F.max(F.when(F.col("side") == 1, F.col("head"))).alias("head_b"),
        )
        .filter(F.levenshtein(F.col("head_a"), F.col("head_b")) <= EDIT_MAX)
        .select("doc_a", "doc_b")
    )
    clusters = dedup_clusters(verified)  # (doc_id, cluster_id, is_canonical)
    # hint at the join site (the labeling op itself no longer hints — a
    # non-join consumer would dangle it): labels are bounded by the
    # candidate-pair count, tiny next to the corpus side.
    return d.select("doc_id").join(F.broadcast(clusters), "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        F.coalesce("is_canonical", F.lit(1)).cast("int").alias("is_kept"),
    )


EMB_PLANES = 3  # coarse buckets: high recall for the 0.4+ cosine tail
EMB_COS_THRESHOLD = 0.4  # synthetic corpus max pair cosine ≈ 0.513


def _embed_pipeline_oracle() -> str:
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(EMB_PLANES, 64)
    plane_lits = [
        "[" + ", ".join(str(x) for x in w) + "]::DOUBLE[]" for w in planes
    ]
    code = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) >= 0 "
        f"THEN {2**p} ELSE 0 END)"
        for p, lit in enumerate(plane_lits)
    )
    return f"""
    WITH RECURSIVE coded AS (
      -- NULL vectors produce no candidate pairs (r7 embedding null-fuzz;
      -- list_dot_product rejects NULL) — they survive as singletons via
      -- the final LEFT JOIN against the full table, same as Spark's path
      SELECT vec_id, embedding, CAST({code} AS INTEGER) AS bucket
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM coded a JOIN coded b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 6)
            >= {EMB_COS_THRESHOLD}
    ),
    edges AS (
      SELECT ia AS a, ib AS b FROM pairs
      UNION
      SELECT ib AS a, ia AS b FROM pairs
    ),
    reach(node, comp) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.node
    ),
    comp AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
    SELECT e.vec_id,
           COALESCE(c.comp, e.vec_id) AS cluster_id,
           CASE WHEN c.node IS NULL OR c.node = c.comp THEN 1 ELSE 0 END
             AS is_kept
    FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
    """


@register(
    "embed_dedup_pipeline_e2e",
    oracle=_embed_pipeline_oracle(),
    tags=("dedup", "pipeline", "embedding", "lsh", "components", "e2e"),
)
def embed_dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBEDDING-side dedup composition, end to end: hyperplane-LSH
    buckets → exact cosine verify WITHIN buckets only → connected
    components → per-vector keep/drop. The only pair-producing join is
    the bucket equi-join (no all-pairs stage anywhere in the plan); the
    exact verify touches bucket-local candidates only — the composition
    SCALE_PROBE.md routes web-scale corpora through (its data curve
    shows exact all-pairs is quadratic; this is the sub-quadratic
    default above the corpus-size threshold). Coarse 3-bit buckets trade
    partition size for recall; production multi-probe/multi-table LSH
    raises recall with the same plan shape.

    The in-bucket verify is filter-and-refine via
    ``grouped_candidate_pairs`` (the block-pair machinery of
    ``operators/similarity.py`` keyed by bucket): an Arrow-batched numpy
    matrix product prunes each bucket's pair space to candidates above
    ``threshold − 1e-6`` (a codegen'd HOF-fold pair join was measured
    ~8× slower here — zip_with/aggregate lambdas evaluate interpreted),
    then the tiny survivor set is re-scored EXACTLY with the sequential
    fold formula, so the kept pairs are bit-identical to the oracle's
    list_cosine_similarity decision. No task ever holds more than two
    ``BLOCK_ROWS``-row blocks regardless of bucket size — a pathological
    bucket (all-near-identical corpus, too few planes) degrades to more
    block-pair tasks, never to one OOM-ing task."""
    from us_weather_energy_analysis_pipeline_spark.operators.components import (
        connected_components,
    )
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        grouped_candidate_pairs,
        hyperplanes,
        lsh_bucket_code,
    )

    emb = load(spark, sf_dir, "embeddings")
    planes = hyperplanes(EMB_PLANES, 64)
    coded = emb.select(
        "vec_id", "embedding", lsh_bucket_code("embedding", planes).alias("bucket")
    )
    pairs = (
        grouped_candidate_pairs(
            coded,
            EMB_COS_THRESHOLD,
            "bucket",
            id_col="vec_id",
            vec_col="embedding",
        )
        .filter(F.round(F.col("cosine"), 6) >= EMB_COS_THRESHOLD)
        .select(F.col("id_a").alias("ia"), F.col("id_b").alias("ib"))
    )
    comp = connected_components(pairs, "ia", "ib")
    # broadcast at the join site (see dedup_pipeline_e2e note above)
    return emb.select("vec_id").join(
        F.broadcast(comp), emb.vec_id == comp.node, "left"
    ).select(
        "vec_id",
        F.coalesce("comp", F.col("vec_id")).alias("cluster_id"),
        F.when(F.col("node").isNull() | (F.col("node") == F.col("comp")), 1)
        .otherwise(0)
        .alias("is_kept"),
    )
