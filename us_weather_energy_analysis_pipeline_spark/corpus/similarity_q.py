"""Similarity-search corpus over ``embeddings`` (array<float>, 64-dim).

Brute-force cosine top-k is the exact baseline: one vectorized kernel pass
over the corpus (``operators/similarity.topk_candidates`` — BLAS pre-rank
per Arrow batch, exact sequential-fold re-score of the margin candidates),
per-query top-k via window rank on the ROUNDED score so ranking is
deterministic across engines. The sub-linear scale paths (IVF cells,
hyperplane-LSH buckets) share the kernel and appear below as
``embed_ivf_topk`` / ``embed_lsh_bucket_topk``. Per-row vector transforms
(int8 quantization, centroid partials) run as native higher-order
expressions with no Python stage, and match DuckDB on NULL, ragged and
empty vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.corpus._util import r6
from us_weather_energy_analysis_pipeline_spark.corpus.registry import load, register
from us_weather_energy_analysis_pipeline_spark.operators.similarity import (  # noqa: F401
    cosine,  # re-exported: the corpus-level vector helpers (bounded-relation use)
    dot,
    norm,
)

N_QUERIES = 10
TOP_K = 5


@register(
    "embed_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < {N_QUERIES} AND embedding IS NOT NULL),
    scored AS (
      -- NULL vectors out of scope on both sides (r7 embedding null-fuzz)
      SELECT q.qid, e.vec_id, e.label,
             ROUND(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.qid AND e.embedding IS NOT NULL
    )
    SELECT qid, vec_id, label, cosine,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, vec_id ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "ann", "topk"),
)
def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact ANN baseline): collect the
    bounded query block, ONE vectorized kernel pass over the corpus
    (BLAS pre-rank per Arrow batch + exact fold re-score of the margin
    candidates — operators/similarity.topk_candidates), rank on the
    rounded score with vec_id tie-break. At scale: corpus-partition-
    parallel partial top-k folded by the final window over candidates
    only. Replaced the interpreted zip_with/aggregate pair loop that
    benched 13.9× DuckDB (VERDICT r4)."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        topk_candidates,
    )

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    qinfo = [
        (r["vec_id"], list(r["embedding"]), None)
        for r in emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
        if r["vec_id"] is not None and r["embedding"] is not None
    ]
    return topk_candidates(
        emb, qinfo, TOP_K, passthrough=(("label", "int"),)
    ).select("qid", "vec_id", "label", "cosine", "rnk")


@register(
    "embed_centroid_by_label",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(embedding[1]), 6)  AS dim0_mean,
           ROUND(AVG(embedding[2]), 6)  AS dim1_mean,
           ROUND(AVG(list_aggregate(list_transform(embedding, x -> x * x), 'sum')), 6)
             AS mean_sq_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("similarity", "vector-agg"),
)
def embed_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid summary (the reduce step of IVF coarse
    quantization): element means + mean squared norm.

    One native expression plan at every size: a partial aggregate per
    partition and one exchange of O(labels) rows, no Python stage (the
    per-row squared-norm fold costs ~μs/row, far below the ~0.2 s floor
    of a Python stage, BENCH_NOTES). NULL, ragged and empty vectors
    follow DuckDB: a dimension a vector lacks reads NULL
    (``try_element_at``, where ``element_at`` raises under ANSI), and an
    empty vector's squared norm is NULL, like DuckDB's sum over an empty
    list, so it stays out of the mean."""
    emb = load(spark, sf_dir, "embeddings")
    sq_norm = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    def dim(i: int):
        return F.try_element_at("embedding", F.lit(i)).cast("double")

    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.avg(dim(1))).alias("dim0_mean"),
        r6(F.avg(dim(2))).alias("dim1_mean"),
        r6(F.avg(F.when(F.size("embedding") > 0, sq_norm))).alias("mean_sq_norm"),
    )


def _plane_sql_literal(w: list[float]) -> str:
    return "[" + ", ".join(str(x) for x in w) + "]::DOUBLE[]"


def _lsh_oracle(n_planes: int = 6, dim: int = 64, k: int = 3, n_q: int = N_QUERIES) -> str:
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(n_planes, dim)
    code = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_plane_sql_literal(w)}) >= 0 "
        f"THEN {2**p} ELSE 0 END)"
        for p, w in enumerate(planes)
    )
    return f"""
    WITH coded AS (
      -- NULL vectors are out of scope (r7 null-fuzz; list_dot_product /
      -- list_inner_product reject NULL inputs outright)
      SELECT vec_id, embedding, CAST({code} AS INTEGER) AS bucket
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM coded WHERE vec_id < {n_q}),
    cand AS (
      SELECT q.qid, q.bucket, c.vec_id,
             ROUND(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine
      FROM q JOIN coded c USING (bucket)
      WHERE c.vec_id <> q.qid
    )
    SELECT qid, bucket, vec_id, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, vec_id ASC) AS rnk
          FROM cand)
    WHERE rnk <= {k}
    """


def _lsh_multiprobe_oracle(
    n_planes: int = 6,
    dim: int = 64,
    k: int = 3,
    n_q: int = N_QUERIES,
    n_probes: int = 2,
) -> str:
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(n_planes, dim)
    code = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_plane_sql_literal(w)}) >= 0 "
        f"THEN {2**p} ELSE 0 END)"
        for p, w in enumerate(planes)
    )
    plane_rows = ", ".join(
        f"({p}, {_plane_sql_literal(w)})" for p, w in enumerate(planes)
    )
    return f"""
    WITH coded AS (
      SELECT vec_id, embedding, CAST({code} AS INTEGER) AS bucket
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM coded WHERE vec_id < {n_q}),
    planes AS (SELECT * FROM (VALUES {plane_rows}) t(p, w)),
    -- flip ranking: smallest 6-dp-rounded hyperplane margin first, plane
    -- index tie-break — the binary ROUND twin keeps the probe CHOICE
    -- identical across engines even when raw doubles differ in last bits
    flips AS (
      SELECT qid, qv, bucket, p,
             ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY ROUND(ABS(list_dot_product(qv::DOUBLE[], w::DOUBLE[])), 6) ASC,
                        p ASC) AS pr
      FROM q CROSS JOIN planes
    ),
    probes AS (
      SELECT qid, qv, bucket AS probe FROM q
      UNION ALL
      SELECT qid, qv, CAST(xor(bucket, 1 << p) AS INTEGER)
      FROM flips WHERE pr <= {n_probes - 1}
    ),
    cand AS (
      SELECT pr.qid, pr.probe AS bucket, c.vec_id,
             ROUND(list_cosine_similarity(pr.qv::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine
      FROM probes pr JOIN coded c ON c.bucket = pr.probe
      WHERE c.vec_id <> pr.qid
    )
    SELECT qid, bucket, vec_id, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, vec_id ASC) AS rnk
          FROM cand)
    WHERE rnk <= {k}
    """


@register(
    "embed_lsh_multiprobe_topk",
    oracle=_lsh_multiprobe_oracle(),
    tags=("similarity", "ann", "lsh", "multiprobe"),
)
def embed_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane LSH (Lv et al. 2007 — the production recall
    lever the single-table variant's docstring promises): each query also
    probes the neighbor bucket across its nearest hyperplane boundary
    (n_probes=2), roughly doubling candidate recall with NO extra hash
    tables and the same one-corpus-pass plan shape
    (operators/similarity.lsh_multiprobe_topk). Probe choice is
    engine-deterministic: margins compare at 6 dp with a plane-index
    tie-break on both sides."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        lsh_multiprobe_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return lsh_multiprobe_topk(emb, q, n_planes=6, dim=64, k=3, n_probes=2).select(
        "qid", "bucket", "vec_id", "cosine", "rnk"
    )


@register(
    "embed_lsh_bucket_topk",
    oracle=_lsh_oracle(),
    tags=("similarity", "ann", "lsh"),
)
def embed_lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (operators/similarity.lsh_topk): 6-bit
    md5-seeded sign codes → bucket equi-join → exact cosine rank within
    the bucket. The scale path: candidates collapse to bucket-local pairs,
    one shuffle on the code."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import lsh_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return lsh_topk(emb, q, n_planes=6, dim=64, k=3).select(
        "qid", "bucket", "vec_id", "cosine", "rnk"
    )


def _ivf_oracle(k: int = 3, n_q: int = N_QUERIES, n_probes: int = 1) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < {n_q} AND embedding IS NOT NULL),
    per_dim AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
      FROM embeddings
    ),
    cent AS (
      SELECT label, pos, AVG(CAST(v AS DOUBLE)) AS m FROM per_dim GROUP BY label, pos
    ),
    cvec AS (SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY label),
    assign AS (
      SELECT qid, qv, label AS cell FROM (
        SELECT q.qid, q.qv, c.label,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY ROUND(list_cosine_similarity(q.qv::DOUBLE[], c.centroid), 6) DESC,
                          c.label ASC) AS rn
        FROM q CROSS JOIN cvec c
      ) WHERE rn <= {n_probes}
    ),
    scored AS (
      SELECT a.qid, a.cell, e.vec_id,
             ROUND(list_cosine_similarity(a.qv::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
      FROM assign a JOIN embeddings e ON e.label = a.cell AND e.vec_id <> a.qid
      WHERE e.embedding IS NOT NULL
    )
    SELECT qid, cell, vec_id, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, vec_id ASC) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@register(
    "embed_ivf_multiprobe_topk",
    oracle=_ivf_oracle(n_probes=2),
    tags=("similarity", "ann", "ivf", "multiprobe"),
)
def embed_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2 — the standard IVF recall knob: exact top-k over
    the TWO nearest coarse cells (operators/similarity.ivf_topk
    n_probes). Probe cells are extra gated query-block entries; a corpus
    row belongs to one cell, so the per-query union dedups itself and
    the final rank window takes the global top-k. Probed fraction
    2/n_cells."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    # dim hint (VERDICT r9 task 6): embeddings are fixed-width 64 by the
    # TESTDATA contract; the hint pins the over-gate fallback's width
    # guard (kernel semantics) for unbounded query sets
    return ivf_topk(emb, q, k=3, n_probes=2, dim=EMBED_DIM).select(
        "qid", "cell", "vec_id", "cosine", "rnk"
    )


@register(
    "embed_ivf_topk",
    # single source of truth for the IVF oracle (ADVICE r8: the inline
    # copy here had drifted-by-construction risk vs the multiprobe twin)
    oracle=_ivf_oracle(n_probes=1),
    tags=("similarity", "ann", "ivf"),
)
def embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized ANN (operators/similarity.ivf_topk): per-label
    centroids → nearest-cell assignment → exact top-3 within the cell.
    Probes 1/n_cells of the corpus; assignment join is broadcast×broadcast."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return ivf_topk(emb, q, k=3, dim=EMBED_DIM).select(
        "qid", "cell", "vec_id", "cosine", "rnk"
    )


@register(
    "embed_int8_quantize",
    oracle="""
    WITH v AS (
      -- NULL vectors are out of scope for quantization (r7 null-fuzz:
      -- GREATEST(list_max(NULL), 1e-12) fabricated a 1.27e14 scale)
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x) AS e
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    s AS (
      SELECT vec_id, e,
             127.0 / GREATEST(list_max(list_transform(e, x -> abs(x))), 1e-12)
               AS scale
      FROM v
    ),
    q AS (
      SELECT vec_id, scale,
             list_transform(e, x -> CAST(round(x * scale) AS BIGINT)) AS qv
      FROM s
    )
    SELECT vec_id,
           ROUND(scale, 6)                  AS scale_r,
           CAST(list_sum(qv) AS BIGINT)     AS q_sum,
           CAST(list_min(qv) AS BIGINT)     AS q_min,
           CAST(list_max(qv) AS BIGINT)     AS q_max
    FROM q
    """,
    tags=("similarity", "quantization", "vector"),
)
def embed_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization — the storage/ANN preprocessing
    step that shrinks a 100 TB float corpus 4× (8× vs float64) before
    index build: per-vector scale = 127/max|x|, q = round(x·scale)
    ∈ [−127, 127]. Pure higher-order array expressions (transform /
    array_max / aggregate), zero shuffle, embarrassingly parallel.
    Rounding uses the binary half-away-from-zero form (`_util.dround`)
    so both engines emit identical integers; the query returns the
    per-vector audit scalars (scale + quantized sum/min/max), which
    hash-certify every element through the sum without comparing raw
    arrays.

    One native expression plan at every size, no Python stage. An empty
    vector follows DuckDB: ``array_max`` is NULL, so the scale takes the
    1e-12 floor (1.27e14, which the overflow-safe round keeps), and its
    quantized sum is NULL like DuckDB's ``list_sum([])``."""
    d = load(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    # STAGED projections: `scale` must be a bound per-row attribute
    # before any per-element lambda references it — an inline
    # expression would be re-evaluated (array_max included) for
    # EVERY element, turning the row cost O(d) into O(d²)
    # (measured 0.14 s → 1.45 s at sf0.1 before this staging).
    staged = d.withColumn(
        "_e", F.transform("embedding", lambda x: x.cast("double"))
    ).withColumn(
        "_scale",
        F.lit(127.0)
        / F.greatest(F.array_max(F.transform("_e", F.abs)), F.lit(1e-12)),
    ).withColumn(
        # dround(x, 0) twin, elementwise: signum·floor(|x|+0.5)
        "_qv",
        F.transform(
            "_e",
            lambda x: (
                F.signum(x * F.col("_scale"))
                * F.floor(F.abs(x * F.col("_scale")) + F.lit(0.5))
            ).cast("long"),
        ),
    )
    q_sum = F.aggregate(F.col("_qv"), F.lit(0).cast("long"), lambda a, v: a + v)
    return staged.select(
        "vec_id",
        r6(F.col("_scale")).alias("scale_r"),
        F.when(F.size("_qv") > 0, q_sum).alias("q_sum"),
        F.array_min("_qv").alias("q_min"),
        F.array_max("_qv").alias("q_max"),
    )


EMBED_DIM = 64  # corpus contract: uniform 64-dim embeddings (TESTDATA.md)
NEG_POOL_K = 8  # bounded hard-negative candidates per cell (md5-smallest)


@register(
    "embed_nearest_centroid_assign",
    oracle="""
    WITH per_dim AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
      FROM embeddings WHERE label IS NOT NULL
    ),
    cent AS (
      SELECT label, pos, AVG(CAST(v AS DOUBLE)) AS m FROM per_dim GROUP BY label, pos
    ),
    -- zero-norm centroids have no defined cosine: the Spark kernel
    -- NaN-excludes them while list_cosine_similarity returns -1.0
    -- against a zero vector, so filter them here too (ADVICE r9)
    cvec AS (SELECT clabel, centroid FROM (
               SELECT label AS clabel, list(m ORDER BY pos) AS centroid
               FROM cent GROUP BY label)
             WHERE list_dot_product(centroid, centroid) > 0),
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
          WHERE embedding IS NOT NULL
            AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    best AS (
      -- rank on the ROUNDED cosine (cross-engine-stable ordering), but
      -- average the RAW one: a mean of 1e-6-grid values lands exactly on
      -- round-half boundaries (~1/n per group — measured one flip)
      SELECT vec_id, label, clabel AS assigned_label, cosine_raw FROM (
        SELECT e.vec_id, e.label, c.clabel,
               list_cosine_similarity(e.v, c.centroid) AS cosine_raw,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                                           c.clabel ASC) AS rn
        FROM e CROSS JOIN cvec c
      ) WHERE rn = 1
    )
    SELECT label, assigned_label,
           CAST(COUNT(*) AS BIGINT)  AS n,
           ROUND(AVG(cosine_raw), 6) AS avg_cosine
    FROM best GROUP BY label, assigned_label
    """,
    tags=("similarity", "ivf", "clustering", "classify"),
)
def embed_nearest_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment with confusion counts — the corpus-side
    half of IVF index BUILD (``ivf_topk`` assigns only the query block)
    and the cluster-assignment pass of SemDeDup-style semantic dedup.
    Output: (true label, assigned cell, n, mean cosine) — the codebook
    quality / confusion summary, ≤ n_cells² rows.

    Plan (operators/similarity.assign_nearest_centroid): ONE bounded
    centroid aggregation (shuffle volume O(n_cells × dim × partitions) —
    the ``embed_dim_stats`` map-side-partial shape), codebook collected
    driver-side (n_cells × dim rows — the IVF codebook contract), then
    assignment is one vectorized kernel pass — BLAS row×codebook scores
    per Arrow batch, exact fold re-score of the margin candidates (the
    ``topk_candidates`` shape; a flat-codegen argmax was the measured
    dead end, see the operator docstring). No join; the only shuffle is
    the ≤ n_cells² confusion aggregate. Zero-norm / NULL vectors get a
    NULL assignment and drop out (cosine undefined); NULL labels build
    no cell (a NULL key is a missing cell) but assignable rows keep
    their NULL true-label group in the confusion output. The average
    folds the RAW winning cosine (6-dp round after): a mean of
    already-rounded values is a 1e-6-grid multiple that lands exactly
    on round-half boundaries (measured one flip at sf0.001)."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        assign_nearest_centroid,
        collect_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    cents = collect_centroids(emb.filter(F.col("label").isNotNull()))
    if not cents:  # every label NULL (fuzz edge): no cells, empty confusion
        return spark.range(0).select(
            F.lit(None).cast("int").alias("label"),
            F.lit(None).cast("int").alias("assigned_label"),
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("double").alias("avg_cosine"),
        )
    assigned = assign_nearest_centroid(
        emb, cents, passthrough=(("label", "int"),)
    )
    return (
        assigned.filter(F.col("assigned_label").isNotNull())
        .groupBy("label", "assigned_label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.avg("centroid_cosine_raw")).alias("avg_cosine"),
        )
    )


@register(
    "embed_hard_negative_mine",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
               WHERE embedding IS NOT NULL AND label IS NOT NULL
                 AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    per_dim AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x
      FROM embeddings WHERE label IS NOT NULL
    ),
    cent AS (
      SELECT label, pos, AVG(CAST(x AS DOUBLE)) AS m FROM per_dim GROUP BY label, pos
    ),
    -- zero-norm centroids: same NaN-exclusion contract as
    -- embed_nearest_centroid_assign's cvec (ADVICE r9)
    cvec AS (SELECT clabel, centroid FROM (
               SELECT label AS clabel, list(m ORDER BY pos) AS centroid
               FROM cent GROUP BY label)
             WHERE list_dot_product(centroid, centroid) > 0),
    best_cell AS (
      SELECT vec_id, label, v, clabel AS neg_label FROM (
        SELECT e.vec_id, e.label, e.v, c.clabel,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                                           c.clabel ASC) AS rn
        FROM e CROSS JOIN cvec c WHERE c.clabel <> e.label
      ) WHERE rn = 1
    ),
    pool AS (
      SELECT label AS pool_label, vec_id AS pool_vec_id, v AS pv FROM (
        SELECT label, vec_id, v,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS prn
        FROM e
      ) WHERE prn <= {NEG_POOL_K}
    )
    SELECT vec_id, label, neg_label, neg_vec_id, neg_cosine FROM (
      SELECT b.vec_id, b.label, b.neg_label,
             p.pool_vec_id AS neg_vec_id,
             ROUND(list_cosine_similarity(b.v, p.pv), 6) AS neg_cosine,
             ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                ORDER BY ROUND(list_cosine_similarity(b.v, p.pv), 6) DESC NULLS LAST,
                                         p.pool_vec_id ASC) AS rn
      FROM best_cell b JOIN pool p ON p.pool_label = b.neg_label
    ) WHERE rn = 1
    """,
    tags=("similarity", "contrastive", "hard-negatives", "training"),
)
def embed_hard_negative_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-guided hard-negative mining for contrastive training: for
    every vector, the single most-similar vector from a BOUNDED
    candidate pool of its nearest FOREIGN cluster — semantically close,
    differently labeled: exactly the negatives that move a contrastive
    loss.

    Three bounded stages, none of which ever materializes an all-pairs
    space:
    1. per-cell candidate pool: the ``NEG_POOL_K`` md5-smallest vec_ids
       per label (a KMV-style deterministic unbiased sample) — a batch-
       local Arrow prune bounds the per-label rank window to
       ≤ K·n_batches survivors (the ``topk_per_group`` skew-safe shape,
       so no full-corpus per-label sort; an input-size gate that skips
       the prune for small inputs measured a no-op — worker reuse makes
       the stage ~free, BENCH_AB r9), then a BOUNDED driver collect
       (n_cells × K rows — the codebook-boundedness class);
    2. nearest foreign cell per row — ``assign_nearest_centroid`` with
       the row's own cell excluded;
    3. top-1 pool negative — scored INSIDE the same kernel pass (BLAS
       per Arrow batch + exact fold re-score of margin candidates,
       vec_id ASC tie-break): no broadcast join, no O(n·K) pair
       intermediate, no rank shuffle — the join+window tail this
       replaces measured ~1 s of fixed cost at bench scale.
    At 100 TB: linear in corpus size, zero post-kernel shuffles.
    Zero-norm / NULL vectors and NULL labels are out of scope on both
    sides (no defined cell or cosine): the kernel emits them NULLs,
    dropped by the post-kernel filter — single-cell corpora mine
    nothing on both engines. Centroids fold EVERY labeled vector
    (zero-norm included), matching the oracle's cent CTE; the pool
    excludes zero-norm rows (the oracle pool draws from e)."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        _flat_dot_sql,
        assign_nearest_centroid,
        collect_centroids,
    )

    base = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    cents = collect_centroids(base)
    if not cents:  # every label NULL (fuzz edge): no cells, nothing minable
        return spark.range(0).select(
            F.lit(None).cast("long").alias("vec_id"),
            F.lit(None).cast("int").alias("label"),
            F.lit(None).cast("int").alias("neg_label"),
            F.lit(None).cast("long").alias("neg_vec_id"),
            F.lit(None).cast("double").alias("neg_cosine"),
        )

    # stage 1: md5-smallest K per label (zero-norm rows excluded — the
    # oracle pool draws from e), batch-local prune before the window.
    # The prune's flat-dot width comes from the collected codebook (the
    # same data-driven source the kernel uses), NOT the EMBED_DIM
    # constant: with a hardcoded width a wider/narrower corpus would
    # make try_element_at yield NULL, silently emptying the pool while
    # the width-agnostic oracle still returns rows (ADVICE r9).
    dim = len(cents[0][1])
    emb = (
        base.withColumn(
            "_sq", F.expr(_flat_dot_sql("embedding", "embedding", dim))
        )
        .filter(F.col("_sq") > 0)
        .drop("_sq")
    )

    keyed = emb.select(
        "vec_id", "label", "embedding",
        F.md5(F.col("vec_id").cast("string")).alias("_mk"),
    )

    def prune(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(["_mk", "vec_id"])
                    .groupby("label", sort=False)
                    .head(NEG_POOL_K)
                )

    cand = keyed.mapInPandas(
        prune, "vec_id long, label int, embedding array<float>, _mk string"
    )
    # driver-side merge replaces the rank window + its label exchange
    # (one fewer AQE stage job): the global md5-smallest-K per label is a
    # subset of the union of batch top-Ks, so merging the collected
    # candidates (≤ K × labels × batches rows — the same bound the window
    # would shuffle) with the identical (md5, vec_id) order is exact.
    by_label: dict[int, list] = {}
    for r in cand.collect():
        by_label.setdefault(r["label"], []).append(
            (r["_mk"], r["vec_id"], list(r["embedding"]))
        )
    pool = [
        (lab, vid, vec)
        for lab, cands in by_label.items()
        for _, vid, vec in sorted(cands)[:NEG_POOL_K]
    ]
    mined = assign_nearest_centroid(
        base,
        cents,
        passthrough=(("label", "int"),),
        exclude_label_col="label",
        out_label="neg_label",
        neg_pool=pool,
    )
    return mined.filter(F.col("neg_vec_id").isNotNull()).select(
        "vec_id", "label", "neg_label", "neg_vec_id", "neg_cosine"
    )


@register(
    "embed_kmeans_round",
    oracle="""
    WITH per_dim AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
      FROM embeddings WHERE label IS NOT NULL
    ),
    cent AS (
      SELECT label, pos, AVG(CAST(v AS DOUBLE)) AS m FROM per_dim GROUP BY label, pos
    ),
    -- zero-norm centroids have no defined cosine: the Spark kernel
    -- NaN-excludes them from the argmax, so drop them from the
    -- candidate set here too (the embed_nearest_centroid_assign
    -- contract, ADVICE r9)
    cvec AS (SELECT clabel, centroid FROM (
               SELECT label AS clabel, list(m ORDER BY pos) AS centroid
               FROM cent GROUP BY label)
             WHERE list_dot_product(centroid, centroid) > 0),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE embedding IS NOT NULL
            AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    best AS (
      -- rank on the ROUNDED cosine (cross-engine-stable assignment),
      -- clabel ASC tie-break: the kernel's pick order
      SELECT vec_id, v, clabel AS assigned_label FROM (
        SELECT e.vec_id, e.v, c.clabel,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                                           c.clabel ASC) AS rn
        FROM e CROSS JOIN cvec c
      ) WHERE rn = 1
    ),
    newdim AS (
      SELECT assigned_label, pos, AVG(vv) AS new_m, COUNT(*) AS cnt FROM (
        SELECT assigned_label, generate_subscripts(v, 1) AS pos, unnest(v) AS vv
        FROM best
      ) GROUP BY assigned_label, pos
    )
    SELECT nd.assigned_label,
           CAST(MAX(nd.cnt) AS BIGINT) AS n,
           ROUND(MAX(CASE WHEN nd.pos = 1 THEN nd.new_m END), 6) AS dim0_mean,
           ROUND(MAX(CASE WHEN nd.pos = 2 THEN nd.new_m END), 6) AS dim1_mean,
           ROUND(SQRT(SUM((nd.new_m - c.m) * (nd.new_m - c.m))), 6) AS shift
    FROM newdim nd JOIN cent c ON c.label = nd.assigned_label AND c.pos = nd.pos
    GROUP BY nd.assigned_label
    """,
    tags=("similarity", "ivf", "clustering", "kmeans", "iterative"),
)
def embed_kmeans_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One end-to-end Lloyd iteration of (spherical-assignment) k-means,
    seeded from the label codebook: assign every vector to its nearest
    centroid by cosine, recompute each cell's mean, and emit the
    per-cell convergence summary — (cell, n assigned, new dim-0/1
    means, L2 shift old->new). This pins the iterative IVF / SemDeDup
    codebook BUILD loop whose two halves exist separately
    (``embed_nearest_centroid_assign`` = the assign step,
    ``embed_centroid_by_label`` = the update shape) as ONE oracle-checked
    composition (VERDICT r13 task 3); shift -> 0 is Lloyd's termination
    criterion, property-tested in ``tests/test_centroid_assign.py``.

    Plan: ONE bounded per-dim centroid aggregation (map-side partial,
    shuffle O(n_cells x dim x partitions)) collected as the codebook
    (n_cells x dim doubles -- the IVF codebook contract shared by every
    consumer in this module), then ONE fused kernel pass does BOTH
    halves of the Lloyd step (operators/similarity.
    assign_nearest_centroid with emit_update_partials: BLAS row x
    codebook argmax per Arrow batch + exact fold re-score of the margin
    candidates, then the centroid-update partial (cnt, sum-vector) per
    winning cell IN KERNEL) -- Arrow egress and every downstream row
    count are O(cells x batches x dim), never O(n): no per-row vector
    re-crosses the Python boundary and no O(n x dim) explode feeds the
    update aggregate. The partial fold (sum vsum / sum cnt per dim) and
    the shift fold run on cells-bounded relations; the old codebook is
    a constant-folded literal-array lookup (element_at on one foldable
    array, indexed cell_rank x dim + pos) -- no join subtree at all. Zero-norm / NULL /
    wrong-width vectors get no assignment and drop out (cosine
    undefined); zero-norm centroids never win the argmax (NaN-excluded,
    matching the oracle's cvec filter). Assignment ranks on the 6-dp
    ROUNDED cosine (cross-engine-stable); the update averages RAW
    doubles and rounds after (round-then-average lands on half
    boundaries -- the module-wide contract). The shift folds RAW means:
    sqrt destroys the 1e-6 grid, so the final 6-dp round is boundary-safe.

    Reference parity: the reference repo has no clustering surface; this
    extends SURVEY SS2's LLM-pipeline family (embedding dedup/IVF build,
    SURVEY SS2.11) -- cited there rather than to a reference file."""
    return embed_kmeans_round_from(spark, load(spark, sf_dir, "embeddings"))


def embed_kmeans_round_from(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """``embed_kmeans_round``'s body on an arbitrary embeddings relation —
    exported so the scale probe can grow the corpus without re-reading
    parquet (the ``_from`` convention of the r13 probes)."""
    from us_weather_energy_analysis_pipeline_spark.operators.similarity import (
        assign_nearest_centroid,
        collect_centroids,
    )

    cents = collect_centroids(emb.filter(F.col("label").isNotNull()))
    if not cents:  # every label NULL (fuzz edge): no cells, empty round
        return spark.range(0).select(
            F.lit(None).cast("int").alias("assigned_label"),
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("double").alias("dim0_mean"),
            F.lit(None).cast("double").alias("dim1_mean"),
            F.lit(None).cast("double").alias("shift"),
        )
    partials = assign_nearest_centroid(emb, cents, emit_update_partials=True)
    per_dim = (
        partials.select(
            "assigned_label", "cnt", F.posexplode("vsum").alias("pos", "s")
        )
        .groupBy("assigned_label", "pos")
        .agg(
            (F.sum("s") / F.sum("cnt")).alias("new_m"),
            F.sum("cnt").alias("cnt"),
        )
    )
    # Old codebook as a constant-folded literal-array lookup instead of a
    # broadcast join: the codebook is already driver-held and bounded
    # (n_cells × dim doubles), so element_at on ONE foldable array
    # literal — indexed (cell_rank × dim + pos) via array_position on
    # the sorted label literal — replaces the whole LocalRelation →
    # BroadcastExchange → join subtree (paired A/B: consistently faster,
    # two fewer plan jobs; repr() round-trips doubles exactly, so the
    # looked-up old_m is bit-identical to the joined one). SQL text, not
    # 640 F.lit calls — per-Column py4j build cost is the measured trap.
    labs_sql = "array(" + ",".join(str(int(lab)) for lab, _ in cents) + ")"
    flat_sql = (
        "array("
        + ",".join(repr(float(x)) + "d" for _, cv in cents for x in cv)
        + ")"
    )
    dim = len(cents[0][1])
    j = per_dim.withColumn(
        "old_m",
        F.expr(
            f"element_at({flat_sql}, cast((array_position({labs_sql}, "
            f"assigned_label) - 1) * {dim} + pos + 1 as int))"
        ),
    )
    diff = F.col("new_m") - F.col("old_m")
    return j.groupBy("assigned_label").agg(
        F.max("cnt").cast("long").alias("n"),
        r6(F.max(F.when(F.col("pos") == 0, F.col("new_m")))).alias("dim0_mean"),
        r6(F.max(F.when(F.col("pos") == 1, F.col("new_m")))).alias("dim1_mean"),
        r6(F.sqrt(F.sum(diff * diff))).alias("shift"),
    )
