"""Similarity search over embedding columns: exact baseline + two
sub-linear scale paths.

- ``brute_force_topk``: broadcast queries × one corpus scan — the exact
  baseline every ANN variant is measured against.
- ``ivf_topk``: inverted-file search — assign each query to its nearest
  coarse cell (centroids from a pretrained/partition-level quantizer),
  search only that cell. The corpus-side shuffle is ONE groupBy on the
  cell id; at 100 TB cells map to partitions, so a query touches
  1/n_cells of the data.
- ``lsh_hyperplane``: random-hyperplane LSH — P sign bits form a bucket
  code; candidates share the exact code. Planes are deterministic
  (md5-seeded, generated driver-side) so any engine recomputes them.

Scoring strategy (round 5): Spark has no vectorized JVM dot product for
arrays — ``zip_with``/``aggregate`` higher-order functions evaluate
INTERPRETED, outside whole-stage codegen, and benched 9–14× DuckDB on the
corpus. All top-k paths therefore score through ONE ``mapInPandas`` corpus
pass (``topk_candidates``): a float64 numpy matmul pre-ranks each Arrow
batch, and every emitted candidate is re-scored IN-TASK with the exact
sequential-fold formula + the binary-round twin, so the output is
bit-identical to the previous JVM higher-order-function plan (and the
DuckDB oracle) while the per-pair cost drops to BLAS. The HOF ``dot`` /
``norm`` / ``cosine`` helpers remain for bounded relations (candidate
re-scores, broadcast dims) where interpretation cost is irrelevant.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Gate on the driver-collected query block (VERDICT r7), read at call
# time: 16 384 queries × dim-64 float64 ≈ 8 MB in the task closure — the
# upper end of "rides in every task's closure for free". Beyond it EVERY
# entry point falls back to a fully distributed plan (VERDICT r8 task 5):
# brute force to the broadcast-join plan, IVF/LSH/multiprobe to in-plan
# probe assignment (`_ivf_join_plan` / `_lsh_join_plan`) — same emitted
# bits, no driver collect. Bounded blocks remain the FAST path (the
# mapInPandas kernel).
QUERY_BLOCK_MAX = 16_384


def _collect_query_block(
    queries: DataFrame, cols: list[str], max_rows: int
) -> list | None:
    """Bounded collect of the query block: never materializes more than
    ``max_rows + 1`` rows on the driver (same ``limit(threshold+1)``
    technique as rangejoin._try_inline_bands). Returns None when the
    block exceeds the bound — the caller picks its distributed fallback
    or raises."""
    rows = queries.select(*cols).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    return rows


def fold_cosine(va, vb) -> float | None:
    """DRIVER-side sequential-fold cosine — bit-identical to the SQL
    ``cosine()`` expression (zip_with/aggregate fold left-to-right over
    doubles). Worker-side copies are nested closures (see
    ``grouped_candidate_pairs`` for why: workers of a foreign driver
    cannot import this package, closures serialize by value). Zero-norm
    input → ``None``, mirroring the in-kernel ``fold_cos`` guard (the
    legacy JVM plan emitted NaN/NULL scores rather than crashing)."""
    d = 0.0
    for x, y in zip(va, vb):
        d = d + x * y
    na = 0.0
    for x in va:
        na = na + x * x
    nb = 0.0
    for y in vb:
        nb = nb + y * y
    den = math.sqrt(na) * math.sqrt(nb)
    return d / den if den != 0.0 else None  # zero-norm → NULL score


def dot(a: Column | str, b: Column | str) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_candidates(
    corpus: DataFrame,
    qinfo: list[tuple],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_name: str = "qid",
    passthrough: tuple[tuple[str, str], ...] = (),
    match_col: str | None = None,
    planes: list[list[float]] | None = None,
    out_match: str | None = None,
    margin: float = 2e-6,
) -> DataFrame:
    """Exact cosine top-k against a small driver-held query block, scored
    vectorized: ONE ``mapInPandas`` pass over the corpus computes a
    float64 BLAS score matrix per Arrow batch, keeps each query's batch
    top-k plus every row within ``margin`` of the k-th score, re-scores
    those candidates IN-TASK with the sequential-fold cosine + the binary
    round twin (bit-identical to the JVM ``dround(cosine(...), 6)``
    expression), and a final window over the tiny candidate set assigns
    dense ranks. Replaces the interpreted higher-order-function scoring
    (9–14× DuckDB on the bench) with BLAS while provably preserving the
    emitted values: a non-candidate's fold score is < (k-th candidate's
    BLAS score − margin + ~1e-14) < k-th fold score − 1e-6, i.e. strictly
    below after 6-dp rounding, so the global top-k is always inside the
    candidate set.

    ``qinfo`` rows are ``(qid, vector, match)`` — ``match`` is the LSH
    bucket / IVF cell the query probes (None = brute force over all rows).
    The query block is bounded by the API user (it is collected to the
    driver and shipped in the task closure), NOT by data size — the
    corpus side stays fully distributed and the per-partition state is
    one Arrow batch + the candidate lists.

    Modes: ``planes`` → corpus bucket codes are computed in-kernel
    (numpy sign bits, refined with the exact fold for any |dot| < 1e-9 so
    boundary signs match the HOF/oracle codes); ``match_col`` → corpus
    rows are eligible when their column equals the query's ``match``
    (IVF cell). Null-vector corpus rows keep their legacy semantics:
    cosine NULL (ranked last by both engines), bucket 0 under ``planes``
    (each CASE term falls to ELSE 0). Null ``id_col`` rows are dropped —
    the legacy ``id != qid`` predicate was never true for them.

    ``passthrough`` is ``((col, ddl_type), ...)`` extra corpus columns
    carried onto the output (e.g. ``(("label", "int"),)``).
    Output: ``qid_name, [out_match], id_col, *passthrough, cosine, rnk``.
    The reference (src/analysis.py — pandas corr/regression only) has no
    ANN surface; this operator is the brief's training-data-pipeline
    extension, Spark-first.
    """
    q_dims = sorted({len(q[1]) for q in qinfo if q[1] is not None})
    if len(q_dims) > 1:
        # fail on the driver with an actionable message instead of an
        # opaque np.asarray worker traceback (r7 ragged-embedding fuzz);
        # both engines define similarity only over uniform dimensionality
        raise ValueError(
            f"ragged query block: embedding lengths {q_dims} — similarity "
            "ops require uniform dimensionality"
        )
    from pyspark.sql import Window

    q_ids = [int(q[0]) for q in qinfo]
    q_vecs = [[float(x) for x in q[1]] for q in qinfo]
    q_match = [None if q[2] is None else int(q[2]) for q in qinfo]
    planes_l = (
        [[float(x) for x in w] for w in planes] if planes is not None else None
    )
    pt_cols = [c for c, _ in passthrough]
    need = list(dict.fromkeys([id_col, vec_col] + pt_cols + ([match_col] if match_col else [])))
    in_df = corpus.select(*need)
    out_schema = (
        f"{qid_name} long"
        + (f", {out_match} int" if out_match else "")
        + f", {id_col} long"
        + "".join(f", {c} {t}" for c, t in passthrough)
        + ", cosine double"
    )
    kk, mg = int(k), float(margin)
    idc, vc, mc, om = id_col, vec_col, match_col, out_match

    def gen(batches):
        import math as _m

        import numpy as np
        import pandas as pd

        if not q_ids:
            return
        Q = np.asarray(q_vecs, dtype=np.float64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        P = np.asarray(planes_l, dtype=np.float64) if planes_l is not None else None
        pw = (
            2 ** np.arange(len(planes_l), dtype=np.int64)
            if planes_l is not None
            else None
        )

        def fold_cos(va, vb):
            d = 0.0
            for x, y in zip(va, vb):
                d = d + x * y
            na = 0.0
            for x in va:
                na = na + x * x
            nb = 0.0
            for y in vb:
                nb = nb + y * y
            den = _m.sqrt(na) * _m.sqrt(nb)
            return d / den if den != 0.0 else None  # zero-norm → NULL score

        def fold_code(va):
            code = 0
            for p_i, w in enumerate(planes_l):
                d = 0.0
                for x, y in zip(va, w):
                    d = d + x * y
                if d >= 0:
                    code += 2**p_i
            return code

        def drnd6(x):
            return _m.copysign(1.0, x) * _m.floor(abs(x) * 1e6 + 0.5) / 1e6

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_raw, vec_raw = pdf[idc], pdf[vc]
            id_ok = ids_raw.notna().to_numpy()
            v_ok = vec_raw.notna().to_numpy()
            vi = np.flatnonzero(id_ok & v_ok)
            ni = np.flatnonzero(id_ok & ~v_ok)
            rows: list[tuple] = []  # (qid, match, id, *pt, cosine)

            def emit(qi, pos, cos):
                rows.append(
                    (q_ids[qi], q_match[qi], int(ids_raw.iloc[pos]))
                    + tuple(pdf[c].iloc[pos] for c in pt_cols)
                    + (cos,)
                )

            if vi.size:
                # vstack assumes the (overwhelmingly common) uniform-dim
                # batch; ragged or query-width-mismatched vectors fall to
                # the exact per-row fold below instead of crashing.
                try:
                    V = np.vstack(
                        [np.asarray(v, dtype=np.float64) for v in vec_raw.iloc[vi]]
                    )
                    if V.ndim != 2 or (len(q_ids) and V.shape[1] != Q.shape[1]):
                        raise ValueError("ragged / width-mismatched batch")
                except ValueError:
                    # Per-row exact-fold fallback: every eligible row is
                    # scored with the same sequential fold the candidate
                    # re-score uses and emitted; the final rank window
                    # prunes to top-k exactly as in the fast path.
                    # Width-mismatched pairs score NULL (legacy zip_with
                    # NULL-padding → NULL cosine); wrong-width vectors
                    # take plane code 0 (every CASE term falls to ELSE).
                    pdim = len(planes_l[0]) if planes_l else None
                    for qi in range(len(q_ids)):
                        for j in vi:
                            if int(ids_raw.iloc[j]) == q_ids[qi]:
                                continue
                            va = [float(x) for x in vec_raw.iloc[j]]
                            if P is not None:
                                code = fold_code(va) if len(va) == pdim else 0
                                if code != q_match[qi]:
                                    continue
                            elif mc is not None:
                                mv = pdf[mc].iloc[j]
                                if pd.isna(mv) or int(mv) != q_match[qi]:
                                    continue
                            c = (
                                fold_cos(va, q_vecs[qi])
                                if len(va) == len(q_vecs[qi])
                                else None
                            )
                            emit(qi, j, None if c is None else drnd6(c))
                    V = None
            if vi.size and V is not None:
                vnorm = np.sqrt((V * V).sum(axis=1))
                vids = ids_raw.iloc[vi].to_numpy(dtype=np.int64)
                codes = None
                if P is not None:
                    dots = V @ P.T
                    codes = ((dots >= 0).astype(np.int64) * pw).sum(axis=1)
                    for j in np.flatnonzero(np.abs(dots).min(axis=1) < 1e-9):
                        codes[j] = fold_code(V[j].tolist())
                mvals = pdf[mc].iloc[vi] if mc is not None else None
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = (V @ Q.T) / np.outer(vnorm, qn)
                for qi in range(len(q_ids)):
                    elig = vids != q_ids[qi]
                    if codes is not None:
                        elig &= codes == q_match[qi]
                    elif mc is not None:
                        elig &= (mvals == q_match[qi]).to_numpy()
                    cand = np.flatnonzero(elig)
                    if not cand.size:
                        continue
                    sc = S[:, qi][cand]
                    nanm = np.isnan(sc)
                    fin, scf = cand[~nanm], sc[~nanm]
                    if scf.size > kk:
                        kth = np.partition(scf, scf.size - kk)[scf.size - kk]
                        sel = fin[scf >= kth - mg]
                    else:
                        sel = fin
                    for j in np.concatenate([cand[nanm], sel]):
                        c = fold_cos(V[j].tolist(), q_vecs[qi])
                        emit(qi, vi[j], None if c is None else drnd6(c))
            if ni.size:
                nids = ids_raw.iloc[ni].to_numpy(dtype=np.int64)
                order = ni[np.argsort(nids, kind="stable")]
                for qi in range(len(q_ids)):
                    if P is not None and q_match[qi] != 0:
                        continue
                    cnt = 0
                    for pos in order:
                        if int(ids_raw.iloc[pos]) == q_ids[qi]:
                            continue
                        if mc is not None:
                            mv = pdf[mc].iloc[pos]
                            if pd.isna(mv) or int(mv) != q_match[qi]:
                                continue
                        emit(qi, pos, None)
                        cnt += 1
                        if cnt >= kk:
                            break
            if rows:
                cols = (
                    [qid_name]
                    + ([om] if om else ["_m"])
                    + [idc]
                    + pt_cols
                    + ["cosine"]
                )
                out = pd.DataFrame(rows, columns=cols)
                if not om:
                    out = out.drop(columns=["_m"])
                out["cosine"] = pd.to_numeric(out["cosine"], errors="coerce")
                yield out

    part = in_df.mapInPandas(gen, out_schema)
    w = Window.partitionBy(qid_name).orderBy(F.col("cosine").desc(), F.col(idc).asc())
    return part.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= kk)


def _flat_dot_sql(a: str, b: str, dim: int) -> str:
    """Codegen twin of the sequential-fold dot product: the same
    left-to-right multiply-add chain (``+`` is left-associative, so the
    IEEE op order — and therefore every bit — matches ``dot()``/
    ``fold_cosine``), but as a FLAT expression over 0-based array
    indexes. Whole-stage codegen compiles it; higher-order-function
    lambdas evaluate interpreted (measured on the 8k×8k over-gate
    fallbacks: lsh 15.4→12.7 s, multiprobe 29.9→16.5 s, ivf 184→64 s —
    identical output bits).
    ``try_element_at`` (1-based) rather than ``arr[i]``: ANSI mode —
    the driver's session default — makes a bare out-of-bounds index
    THROW, while the fold semantics for a short/ragged vector are a
    NULL score; try_element_at's NULL propagates identically."""
    return " + ".join(
        f"(CAST(try_element_at({a}, {i + 1}) AS DOUBLE) * "
        f"CAST(try_element_at({b}, {i + 1}) AS DOUBLE))"
        for i in range(dim)
    )


def _brute_force_join_plan(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
) -> DataFrame:
    """Fully distributed brute-force plan for an over-threshold query
    block: broadcast-join corpus × queries, score with the sequential-fold
    HOF cosine (bit-identical to the kernel's ``fold_cos`` — same
    left-to-right fold over doubles, zero-norm → NULL), rank per query.
    Slower per pair than the BLAS kernel but has NO driver collect — the
    scale-safe shape when the query block itself is big data.

    Schema parity with the kernel path (ADVICE r8): qid/id are cast to
    long (``topk_candidates`` declares them ``long`` in its mapInPandas
    schema) and corpus is projected to ``(id_col, vec_col)`` before the
    join, so a corpus column named ``cosine``/``rnk`` can't collide and
    both brute-force paths emit an identical schema."""
    from pyspark.sql import Window

    from us_weather_energy_analysis_pipeline_spark.corpus._util import dround

    q = queries.select(
        F.col(qid_col).cast("long").alias(qid_col), qvec_col
    ).filter(F.col(qid_col).isNotNull() & F.col(qvec_col).isNotNull())
    den = norm(F.col(vec_col)) * norm(F.col(qvec_col))
    scored = (
        corpus.select(F.col(id_col).cast("long").alias(id_col), vec_col)
        .filter(F.col(id_col).isNotNull())
        .join(F.broadcast(q), F.col(id_col) != F.col(qid_col))
        .withColumn(
            "cosine",
            F.when(
                den != F.lit(0.0),
                dround(dot(F.col(vec_col), F.col(qvec_col)) / den, 6),
            ),
        )
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
        .select(qid_col, id_col, "cosine", "rnk")
    )


def _ivf_join_plan(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    label_col: str,
    vec_col: str,
    id_col: str,
    qid_col: str,
    qvec_col: str,
    n_probes: int,
    dim: int | None = None,
) -> DataFrame:
    """Fully distributed IVF plan for an over-threshold query block
    (VERDICT r8 task 5 — replaces the old over-gate ValueError): probe
    cells are assigned IN-PLAN. Queries cross-join the broadcast centroid
    frame (bounded: one row per cell), the centroid score is the
    sequential-fold cosine — the SAME left-to-right fold over the SAME
    Spark-computed centroid doubles the driver ``_cell_key`` uses, so the
    probed cells are bit-identical — and a (score DESC NULLS LAST, label
    ASC) row_number keeps the ``n_probes`` nearest cells per query.
    Candidates come from an equi-join on the cell label (a corpus row
    lives in exactly one cell — no dedup), scored and ranked exactly like
    ``_brute_force_join_plan``. NO driver collect anywhere — centroids
    stay a DataFrame, so the query side can itself be big data."""
    from pyspark.sql import Window

    from us_weather_energy_analysis_pipeline_spark.corpus._util import dround

    q = queries.select(
        F.col(qid_col).cast("long").alias(qid_col), qvec_col
    ).filter(F.col(qid_col).isNotNull() & F.col(qvec_col).isNotNull())
    cents = (
        label_centroids(corpus, label_col, vec_col)
        .filter(F.col(label_col).isNotNull())
        .select(F.col(label_col).cast("int").alias("_cell"), "centroid")
    )
    cden = norm(F.col(qvec_col)) * norm(F.col("centroid"))
    w_cell = Window.partitionBy(qid_col).orderBy(
        F.col("_cs").desc_nulls_last(), F.col("_cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "_cs",
            F.when(
                cden != F.lit(0.0),
                dround(dot(F.col(qvec_col), F.col("centroid")) / cden, 6),
            ),
        )
        .withColumn("_pr", F.row_number().over(w_cell))
        .filter(F.col("_pr") <= int(n_probes))
        .select(qid_col, qvec_col, "_cell")
    )
    c = corpus.select(
        F.col(id_col).cast("long").alias(id_col),
        vec_col,
        F.col(label_col).cast("int").alias("_clab"),
    ).filter(F.col(id_col).isNotNull())
    cand = _cell_pair_topk(
        c, probes, k, id_col, vec_col, qid_col, qvec_col, dim=dim
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
        .select(qid_col, F.col("_cell").alias("cell"), id_col, "cosine", "rnk")
    )


def _cell_pair_topk(
    c: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    dim: int | None = None,
    margin: float = 2e-6,
    left_key: str = "_clab",
    right_key: str = "_cell",
) -> DataFrame:
    """Per-cell BLAS top-k candidate generation for the distributed ANN
    fallbacks (r10, VERDICT r9 task 2). ``c`` is the corpus keyed by
    ``left_key`` (IVF cell / LSH bucket), ``probes`` the (query,
    probe-cell) stream keyed by ``right_key``; output is the per-(cell,
    query) candidate set — exact 6-dp-rounded sequential-fold cosines,
    cell emitted as ``_cell`` — which the caller's rank window merges
    into the global top-k.

    Replaces the join + per-pair JVM scoring + full rank window: the
    63.8 s 8k×8k forced-IVF probe was ~60 s of per-pair scoring because
    the dim-term ``try_element_at`` chains (one per pair for the dot,
    plus both norms) blow janino's 64 KB whole-stage-codegen method and
    the stage silently evaluates INTERPRETED (~10 µs/pair — measured
    again this round with pre-joined norms and a single chain: still
    interpreted). This is N-chains-per-row territory, and the repo's
    own lesson applies: use the BLAS-pre-rank + exact-fold-re-score
    kernel shape (``topk_candidates`` is the template). Here the
    cogroup ships each cell's corpus and query rows ONCE (8k + 8k rows
    ≈ 8 MB at the probe scale, vs the old 6.4M-pair × two-vector
    stream), one ``V @ Q.T`` matmul per cell scores every pair at BLAS
    speed, and only margin candidates are fold re-scored.

    Exactness (the ``topk_candidates`` margin argument, applied per
    (cell, query)): a row outside the per-query BLAS top-k + ``margin``
    band has fold score < every candidate's fold − 1e-6, i.e. strictly
    below after 6-dp rounding, so the in-cell exact top-k is always
    inside the candidate set; the global top-k is a subset of the union
    of in-cell top-ks. NULL-score rows (NULL vector, zero norm, width
    mismatch — ``dim`` fixes the width when given, else pairwise-equal
    widths score, mirroring ``zip_with``'s NULL padding) are emitted
    with NULL cosine, ``k`` smallest ids per (cell, query), matching
    the rank window's NULLS-LAST ordering. ``id == qid`` self-pairs are
    excluded in-kernel (the old join predicate). Skew posture: one task
    per cell; a giant cell is one matmul chunked over query blocks —
    the standard batched IVF search shape."""
    kk, mg = int(k), float(margin)
    d = None if dim is None else int(dim)
    qc, ic, vc, qv = qid_col, id_col, vec_col, qvec_col
    out_schema = f"{qc} long, _cell int, {ic} long, cosine double"

    def fn(key, left, right):
        import math as _m

        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                qc: pd.array([], dtype="int64"),
                "_cell": pd.array([], dtype="int32"),
                ic: pd.array([], dtype="int64"),
                "cosine": pd.array([], dtype="float64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        cell = int(key[0])

        def fold_cos(va, vb):
            dd = 0.0
            for x, y in zip(va, vb):
                dd = dd + x * y
            na = 0.0
            for x in va:
                na = na + x * x
            nb = 0.0
            for y in vb:
                nb = nb + y * y
            den = _m.sqrt(na) * _m.sqrt(nb)
            return dd / den if den != 0.0 else None

        def drnd6(x):
            return _m.copysign(1.0, x) * _m.floor(abs(x) * 1e6 + 0.5) / 1e6

        ids = left[ic].to_numpy()
        vecs = left[vc]
        n = len(ids)
        widths = np.array(
            [-1 if v is None else len(v) for v in vecs], dtype=np.int64
        )
        nv = np.zeros(n)
        by_width: dict[int, tuple] = {}
        for w in np.unique(widths[widths >= 0]):
            js = np.flatnonzero(widths == w)
            V = np.asarray(
                [np.asarray(vecs.iloc[j], dtype=np.float64) for j in js]
            )
            nv[js] = np.sqrt((V * V).sum(axis=1))
            by_width[int(w)] = (js, V)

        out_qid: list[int] = []
        out_id: list[int] = []
        out_cos: list[float | None] = []
        qids = right[qc].to_numpy()
        qvecs = right[qv]
        for j in range(len(qids)):
            qid = int(qids[j])
            qvec = qvecs.iloc[j]
            qw = -1 if qvec is None else len(qvec)
            ok_w = qw if (d is None or qw == d) else -2
            scored_js = np.array([], dtype=np.int64)
            scores = np.array([])
            if ok_w >= 0 and ok_w in by_width:
                js, V = by_width[ok_w]
                Qv = np.asarray(qvec, dtype=np.float64)
                nq = _m.sqrt(float(Qv @ Qv))
                den = nv[js] * nq
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = (V @ Qv) / den
                valid = (den != 0.0) & ~np.isnan(s) & (ids[js] != qid)
                scored_js = js[valid]
                scores = s[valid]
            # everything not validly scored (and not the self-pair) is a
            # NULL-score row: k smallest ids, the NULLS-LAST tail
            null_mask = np.ones(n, dtype=bool)
            null_mask[scored_js] = False
            null_mask &= ids != qid
            if scores.size > kk:
                kth = np.partition(scores, -kk)[-kk]
                keep = scores >= kth - mg
                cand_js, cand_s = scored_js[keep], scores[keep]
            else:
                cand_js, cand_s = scored_js, scores
            # fold re-score over PYTHON floats (tolist): float32 numpy
            # scalars would accumulate in float32 under NEP-50 promotion,
            # while the JVM fold casts every element to double first
            qlist = (
                [float(x) for x in qvec] if len(cand_js) else None
            )
            for cj in cand_js:
                ex = fold_cos([float(x) for x in vecs.iloc[cj]], qlist)
                out_qid.append(qid)
                out_id.append(int(ids[cj]))
                out_cos.append(None if ex is None else drnd6(ex))
            null_ids = np.sort(ids[null_mask])[:kk]
            for ni in null_ids:
                out_qid.append(qid)
                out_id.append(int(ni))
                out_cos.append(None)
        if not out_qid:
            return empty
        return pd.DataFrame(
            {
                qc: pd.array(out_qid, dtype="int64"),
                "_cell": pd.array([cell] * len(out_qid), dtype="int32"),
                ic: pd.array(out_id, dtype="int64"),
                "cosine": pd.to_numeric(pd.Series(out_cos), errors="coerce"),
            }
        )

    return (
        c.groupBy(left_key)
        .cogroup(probes.groupBy(right_key))
        .applyInPandas(fn, out_schema)
    )


def _lsh_join_plan(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int,
    n_probes: int,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
) -> DataFrame:
    """Fully distributed LSH plan for an over-threshold query block
    (VERDICT r8 task 5 — replaces the old over-gate ValueError): query
    codes, hyperplane margins, and the Lv et al. single-bit flip set are
    all computed IN-PLAN as one parsed SQL expression — the same
    sequential-fold dots as the driver path, margins compared at 6 dp
    (``dround_sql`` — ``py_dround(abs(d), 6)`` on the driver) with
    plane-index tie-break, so the probe CHOICE is identical. Probe codes explode to (qid, qv, code) rows and
    candidates come from an equi-join on the corpus bucket code (a corpus
    row matches at most one probe per query — its own code — so the union
    needs no dedup). NO driver collect. ``n_probes=1`` degenerates to the
    plain bucketed plan (empty flip slice)."""
    from pyspark.sql import Window

    from us_weather_energy_analysis_pipeline_spark.corpus._util import dround_sql

    dots_sql = (
        "array(" + ", ".join(_dot_sql(qvec_col, _arr_sql(w)) for w in planes) + ")"
    )
    code_sql = (
        "CAST(aggregate(zip_with(_dots, sequence(0, {n}), (d, p) -> "
        "CASE WHEN d >= CAST(0 AS DOUBLE) THEN shiftleft(1, p) ELSE 0 END), "
        "0, (a, b) -> a + b) AS INT)"
    ).format(n=len(planes) - 1)
    probes_sql = (
        "concat(array(_code), transform(slice(array_sort(transform(_dots, "
        f"(d, p) -> struct({dround_sql('abs(d)', 6)} AS m, p AS p))), "
        f"1, {int(n_probes) - 1}), s -> CAST(_code ^ shiftleft(1, s.p) AS INT)))"
    )
    qp = (
        queries.select(F.col(qid_col).cast("long").alias(qid_col), qvec_col)
        .filter(F.col(qid_col).isNotNull() & F.col(qvec_col).isNotNull())
        .withColumn("_dots", F.expr(dots_sql))
        .withColumn("_code", F.expr(code_sql))
        .select(qid_col, qvec_col, F.explode(F.expr(probes_sql)).alias("_qcode"))
    )
    cc = (
        corpus.select(F.col(id_col).cast("long").alias(id_col), vec_col)
        .filter(F.col(id_col).isNotNull())
        .withColumn("bucket", lsh_bucket_code(vec_col, planes))
    )
    # per-bucket BLAS kernel + exact fold re-score (r10 — see
    # _cell_pair_topk: the old per-pair flat chains evaluated
    # interpreted; 12.7 s → ~2 s on the 8k×8k forced probe); dim is the
    # planes' width by construction, self-pairs excluded in-kernel
    cand = _cell_pair_topk(
        cc,
        qp,
        k,
        id_col,
        vec_col,
        qid_col,
        qvec_col,
        dim=len(planes[0]),
        left_key="bucket",
        right_key="_qcode",
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
        .select(
            qid_col, F.col("_cell").alias("bucket"), id_col, "cosine", "rnk"
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qv",
) -> DataFrame:
    """Exact cosine top-k: collect the GATED query block (never more than
    ``QUERY_BLOCK_MAX + 1`` driver rows — VERDICT r7), scan the corpus
    once through the vectorized ``topk_candidates`` kernel, rank per query
    (rounded score + id tie-break → deterministic). 2 jobs (query collect
    + ranked action). An over-threshold query block falls back to the
    fully distributed broadcast-join plan (`_brute_force_join_plan`) —
    same emitted values, no driver collect."""
    # NULL query vectors filtered BEFORE the gate — uniform block
    # accounting across all four top-k entry points (ADVICE r8)
    queries = queries.filter(F.col(qvec_col).isNotNull())
    rows = _collect_query_block(queries, [qid_col, qvec_col], QUERY_BLOCK_MAX)
    if rows is None:
        return _brute_force_join_plan(
            corpus, queries, k, id_col, vec_col, qid_col, qvec_col
        )
    qinfo = [
        (r[qid_col], list(r[qvec_col]), None)
        for r in rows
        if r[qid_col] is not None and r[qvec_col] is not None
    ]
    return topk_candidates(
        corpus, qinfo, k, id_col=id_col, vec_col=vec_col, qid_name=qid_col
    ).select(qid_col, id_col, "cosine", "rnk")


def _per_dim_means(
    corpus: DataFrame, label_col: str, vec_col: str
) -> DataFrame:
    """(label, pos, m): per-cell per-dimension means — the single shared
    aggregation behind BOTH centroid consumers (``label_centroids``'s
    array re-collect and ``ivf_topk``'s driver-side assembly), so the two
    paths cannot drift apart (review r9)."""
    return (
        corpus.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(label_col, "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
    )


def label_centroids(
    corpus: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-cell centroid vectors via posexplode + per-dim mean + re-collect
    (the reduce step of IVF coarse quantization). Returns
    (label, centroid array<double>)."""
    return (
        _per_dim_means(corpus, label_col, vec_col)
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
        .select(label_col, F.col("s.m").alias("centroid"))
    )


def collect_centroids(
    corpus: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Driver-side codebook assembly: ``_per_dim_means`` collected as
    ``[(label, centroid doubles), ...]`` sorted by label — the exact
    assembly ``ivf_topk``'s kernel path performs inline (r9 job cut:
    collecting the per-dim means directly skips ``label_centroids``'
    array re-collect exchange). Bounded by n_cells × dim rows — the
    codebook contract of every IVF-family consumer; NULL labels are
    skipped (a NULL key is a missing cell, not a cluster)."""
    cmap: dict[int, dict[int, float]] = {}
    for r in _per_dim_means(corpus, label_col, vec_col).collect():
        if r[label_col] is not None:
            cmap.setdefault(int(r[label_col]), {})[int(r["pos"])] = r["m"]
    return [
        (lab, [dims[p] for p in sorted(dims)]) for lab, dims in sorted(cmap.items())
    ]


def assign_nearest_centroid(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    passthrough: tuple[tuple[str, str], ...] = (),
    carry_vec: bool = False,
    exclude_label_col: str | None = None,
    out_label: str = "assigned_label",
    out_cosine: str = "centroid_cosine",
    margin: float = 2e-6,
    neg_pool: list[tuple[int, int, list[float]]] | None = None,
    emit_update_partials: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment over the WHOLE corpus — the corpus-side
    half of IVF index BUILD (``ivf_topk`` assigns only the bounded query
    block driver-side) and the cluster-assignment pass of SemDeDup-style
    semantic dedup.

    Scored through the module's standard kernel shape (``topk_candidates``):
    ONE ``mapInPandas`` corpus pass computes the float64 BLAS row×codebook
    score matrix per Arrow batch, then re-scores only the cells within
    ``margin`` of each row's best BLAS score with the exact sequential
    fold + binary-round twin, picking by (6-dp round DESC, label ASC) —
    the ordering every IVF-family oracle uses. A non-candidate cell's
    fold score is strictly below the winner's after rounding (the
    ``topk_candidates`` margin argument), so the emitted cell and bits
    match a full fold scan. Embarrassingly parallel: no shuffle, no
    join, per-partition state is one Arrow batch; the codebook
    (n_cells × dim) rides the task closure.

    A flat-codegen argmax (n_cells chains of ``_flat_dot_sql`` + a sorted
    literal struct array) was the measured dead end here: whole-stage
    codegen fuses the chains into one method regardless of projection
    boundaries — janino's 64 KB limit trips and the whole stage evaluates
    INTERPRETED (2.1 s warm for 2 000×10×64 vs 0.1 s kernel). Flat chains
    stay the right tool for ONE pair per row (the over-gate ANN
    fallbacks); n_cells chains per row need BLAS.

    ``exclude_label_col``: a row's own cell is excluded from the argmax
    (the nearest-foreign-cluster pick of hard-negative mining). Rows
    with a NULL/zero-norm/wrong-width vector — or an empty candidate
    set — emit NULL assignment + cosines (the kernels' NULL-score
    semantics). ``{out_cosine}_raw`` carries the UNROUNDED fold cosine:
    downstream averages must fold raw doubles — a mean of 6-dp-rounded
    values is a 1e-6-grid multiple, which lands EXACTLY on round-half
    boundaries with probability ~1/n per group (measured: one boundary
    flip vs DuckDB in a 100-group confusion at sf0.001).

    ``neg_pool`` (hard-negative mining): a BOUNDED driver-held candidate
    pool ``[(cell_label, vec_id, vector), ...]`` — n_cells × K rows, the
    same driver-boundedness class as the codebook. When given, the SAME
    kernel pass also scores each row against its assigned cell's pool
    (BLAS + fold re-score of margin candidates, top-1 by 6-dp round
    DESC / vec_id ASC) and emits ``neg_vec_id`` / ``neg_cosine`` — no
    broadcast join, no pair projection, no rank shuffle downstream
    (the join+window tail measured ~1 s of fixed cost at bench scale and
    an O(n·K) intermediate at 100 TB; in-kernel it is O(K·dim) flops per
    row and zero extra plan nodes). Rows whose assigned cell has no pool
    entries emit NULLs (callers drop them — the join they replace never
    matched).

    Output: ``id_col, *passthrough, [vec_col], out_label, out_cosine,
    {out_cosine}_raw[, neg_vec_id, neg_cosine]`` — ``passthrough`` is
    ``((col, ddl_type), ...)``; ``carry_vec`` re-emits the vector
    (``array<float>``) for downstream pair scoring.

    ``emit_update_partials`` (the Lloyd/k-means update fusion): instead
    of per-row assignments, the SAME kernel pass emits the map-side
    partial of the centroid update — one ``(out_label, cnt,
    vsum array<double>)`` row per (Arrow batch, winning cell). Arrow
    egress drops from O(n·dim) to O(cells × batches × dim) and the
    caller folds partials with ``Σ vsum / Σ cnt`` per cell — no per-row
    vector ever re-crosses the Python boundary and no O(n·dim) explode
    feeds the update aggregate. Incompatible with ``passthrough`` /
    ``carry_vec`` / ``exclude_label_col`` / ``neg_pool`` (it is a pure
    assign→reduce); the scan is pruned to the vector column alone."""
    if not cents:
        raise ValueError("assign_nearest_centroid: empty codebook")
    dim = len(cents[0][1])
    if any(len(c) != dim for _, c in cents):
        raise ValueError("assign_nearest_centroid: ragged codebook")
    if emit_update_partials and (
        passthrough or carry_vec or exclude_label_col or neg_pool is not None
    ):
        raise ValueError(
            "emit_update_partials is a pure assign→update reduction: "
            "incompatible with passthrough/carry_vec/exclude/neg_pool"
        )
    labs = [int(lab) for lab, _ in cents]
    cmat = [[float(x) for x in cvec] for _, cvec in cents]
    pt_cols = [c for c, _ in passthrough]
    excl = exclude_label_col
    need = (
        [vec_col]  # partials mode reduces in-kernel: ids never leave Python
        if emit_update_partials
        else list(
            dict.fromkeys(
                [id_col, vec_col] + pt_cols + ([excl] if excl else [])
            )
        )
    )
    out_schema = (
        f"{out_label} int, cnt long, vsum array<double>"
        if emit_update_partials
        else f"{id_col} long"
        + "".join(f", {c} {t}" for c, t in passthrough)
        + (f", {vec_col} array<float>" if carry_vec else "")
        + f", {out_label} int, {out_cosine} double, {out_cosine}_raw double"
        + (", neg_vec_id long, neg_cosine double" if neg_pool is not None else "")
    )
    idc, vc, mg, cv = id_col, vec_col, float(margin), carry_vec
    emp = emit_update_partials
    pool_l = (
        [(int(p), int(v), [float(x) for x in w]) for p, v, w in neg_pool]
        if neg_pool is not None
        else None
    )

    def gen(batches):
        import math as _m

        import numpy as np
        import pandas as pd

        C = np.asarray(cmat, dtype=np.float64)
        cn = np.sqrt((C * C).sum(axis=1))
        L = np.asarray(labs, dtype=np.int64)
        # fold_rescore/drnd6_vec below are nested-closure twins of the
        # module's fold_cosine/py_dround BY DESIGN (same as
        # topk_candidates): module-level functions pickle by reference,
        # and workers of a foreign driver cannot import this package —
        # closures serialize by value. r10: the folds are VECTORIZED
        # over row blocks — acc = acc + V[:,d]·w[d] steps dims in the
        # exact scalar left-to-right order, so each row's accumulation
        # is the identical IEEE op sequence, batched (the per-row
        # Python fold loop was this kernel's dominant cost; the
        # exhaustive-fold parity tests pin the bits).
        def _seq_sqrt_norm(ws):
            # sqrt of the SEQUENTIAL square fold — the exact nb/sqrt the
            # scalar fold_cos computed per call, hoisted (it only
            # depends on the codebook/pool vector)
            nb = 0.0
            for y in ws:
                nb = nb + y * y
            return _m.sqrt(nb)

        nb_sqrt = np.asarray([_seq_sqrt_norm(c) for c in cmat])
        pools = None
        if pool_l is not None:
            pools = {}
            for p, v, w in sorted(pool_l, key=lambda t: (t[0], t[1])):
                pools.setdefault(p, ([], []))
                pools[p][0].append(v)
                pools[p][1].append(w)
            pools = {
                p: (
                    np.asarray(vids, dtype=np.int64),
                    np.asarray(ws, dtype=np.float64),
                    np.sqrt((np.asarray(ws, dtype=np.float64) ** 2).sum(axis=1)),
                    ws,
                    np.asarray([_seq_sqrt_norm(w) for w in ws]),
                )
                for p, (vids, ws) in pools.items()
            }

        def fold_rescore(Vr, na_r, w_list, w_nb_sqrt):
            """Vectorized-over-rows twin of the scalar sequential fold
            (r10): acc = acc + Vr[:, d]·w[d] steps through dims in the
            same order as ``d = d + x*y``, so every row's accumulation
            is the IDENTICAL IEEE op sequence — batched instead of one
            Python loop per (row, candidate). den > 0 is guaranteed by
            the callers (zero-norm rows/cells are masked before the
            margin set forms)."""
            acc = np.zeros(len(Vr))
            for dd in range(dim):
                acc = acc + Vr[:, dd] * w_list[dd]
            return acc / (np.sqrt(na_r) * w_nb_sqrt)

        def drnd6_vec(x):
            return np.copysign(1.0, x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            part_rows: list = []
            vecs = pdf[vc]
            ex = pdf[excl] if excl is not None else None
            out_lab = np.full(n, None, dtype=object)
            out_cos = np.full(n, None, dtype=object)
            out_raw = np.full(n, None, dtype=object)
            out_nid = np.full(n, None, dtype=object) if pools is not None else None
            out_nco = np.full(n, None, dtype=object) if pools is not None else None
            ok = [
                v is not None and not (isinstance(v, float) and pd.isna(v))
                and len(v) == dim
                for v in vecs
            ]
            vi = np.flatnonzero(ok)
            if vi.size:
                V = np.asarray(
                    [np.asarray(vecs.iloc[j], dtype=np.float64) for j in vi]
                )
                vn = np.sqrt((V * V).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = (V @ C.T) / np.outer(vn, cn)
                # exact per-row self-norm, sequential square fold (the
                # na every scalar fold_cos call recomputed identically)
                na = np.zeros(len(vi))
                for dd in range(dim):
                    x = V[:, dd]
                    na = na + x * x
                # eligibility matrix: NaN cells out, own label out,
                # zero-norm rows out (cosine undefined)
                E = ~np.isnan(S)
                if ex is not None:
                    e_num = pd.to_numeric(
                        pd.Series(list(ex.iloc[vi])), errors="coerce"
                    ).to_numpy(dtype=np.float64)
                    has_e = ~np.isnan(e_num)
                    e_t = np.full(len(vi), np.int64(-(2**62)))
                    e_t[has_e] = e_num[has_e].astype(np.int64)
                    E &= L[None, :] != e_t[:, None]
                E &= (vn != 0.0)[:, None]
                Sm = np.where(E, S, -np.inf)
                top = Sm.max(axis=1, initial=-np.inf)
                M = E & (S >= (top - mg)[:, None]) & (top > -np.inf)[:, None]
                rown, coln = np.nonzero(M)
                if rown.size:
                    # fold re-score, grouped by centroid so each group is
                    # one dim-step vector fold (identical bits per row)
                    raw_all = np.full(rown.size, np.nan)
                    for ci in np.unique(coln):
                        s_ = coln == ci
                        raw_all[s_] = fold_rescore(
                            V[rown[s_]], na[rown[s_]], cmat[ci], nb_sqrt[ci]
                        )
                    ok_r = ~np.isnan(raw_all)
                    rnd = drnd6_vec(raw_all[ok_r])
                    rws, lbs = rown[ok_r], L[coln[ok_r]]
                    raws = raw_all[ok_r]
                    # winner per row under (rounded DESC, label ASC):
                    # lexsort primary row, then -rounded, then label
                    order = np.lexsort((lbs, -rnd, rws))
                    rws, lbs = rws[order], lbs[order]
                    rnd, raws = rnd[order], raws[order]
                    first_rows, first_idx = np.unique(rws, return_index=True)
                    jidx = vi[first_rows]
                    out_lab[jidx] = lbs[first_idx]
                    out_cos[jidx] = rnd[first_idx]
                    out_raw[jidx] = raws[first_idx]
                    if emp:
                        # in-kernel map-side partial of the Lloyd update:
                        # per winning cell, (count, Σ vectors) — one row
                        # per (batch, cell) leaves Python instead of one
                        # per corpus row (a map-side partial aggregate,
                        # fused into the assign pass)
                        w_lab = lbs[first_idx]
                        for lab_v in np.unique(w_lab):
                            sel = w_lab == lab_v
                            part_rows.append(
                                (
                                    int(lab_v),
                                    int(sel.sum()),
                                    [
                                        float(x)
                                        for x in V[first_rows[sel]].sum(axis=0)
                                    ],
                                )
                            )
                    if pools is not None:
                        win_lab = lbs[first_idx]
                        for lab_v in np.unique(win_lab):
                            if int(lab_v) not in pools:
                                continue
                            pv_ids, P, pn, p_raw, p_nb = pools[int(lab_v)]
                            sel = win_lab == lab_v
                            rs = first_rows[sel]  # row indexes into V
                            with np.errstate(
                                divide="ignore", invalid="ignore"
                            ):
                                ps = (V[rs] @ P.T) / (
                                    pn[None, :] * vn[rs][:, None]
                                )
                            pvalid = ~np.isnan(ps)
                            anyv = pvalid.any(axis=1)
                            ptop = np.where(pvalid, ps, -np.inf).max(
                                axis=1, initial=-np.inf
                            )
                            Mp = (
                                pvalid
                                & (ps >= (ptop - mg)[:, None])
                                & anyv[:, None]
                            )
                            pr, pc = np.nonzero(Mp)
                            if not pr.size:
                                continue
                            raw_p = np.full(pr.size, np.nan)
                            for pi in np.unique(pc):
                                s2 = pc == pi
                                raw_p[s2] = fold_rescore(
                                    V[rs[pr[s2]]],
                                    na[rs[pr[s2]]],
                                    p_raw[pi],
                                    p_nb[pi],
                                )
                            okp = ~np.isnan(raw_p)
                            rnd_p = drnd6_vec(raw_p[okp])
                            prr = pr[okp]
                            pids = pv_ids[pc[okp]]
                            order_p = np.lexsort((pids, -rnd_p, prr))
                            prr, pids = prr[order_p], pids[order_p]
                            rnd_p = rnd_p[order_p]
                            fr, fi = np.unique(prr, return_index=True)
                            jn = vi[rs[fr]]
                            out_nid[jn] = pids[fi]
                            out_nco[jn] = rnd_p[fi]
            if emp:
                yield pd.DataFrame(
                    {
                        out_label: pd.array(
                            [r[0] for r in part_rows], dtype="Int32"
                        ),
                        "cnt": pd.array(
                            [r[1] for r in part_rows], dtype="Int64"
                        ),
                        "vsum": pd.Series(
                            [r[2] for r in part_rows], dtype=object
                        ),
                    }
                )
                continue
            cols = {idc: pdf[idc]}
            for c in pt_cols:
                cols[c] = pdf[c]
            if cv:
                cols[vc] = vecs
            cols[out_label] = pd.array(
                [None if x is None else int(x) for x in out_lab],
                dtype="Int32",
            )
            cols[out_cosine] = pd.to_numeric(pd.Series(out_cos), errors="coerce")
            cols[f"{out_cosine}_raw"] = pd.to_numeric(
                pd.Series(out_raw), errors="coerce"
            )
            if pools is not None:
                cols["neg_vec_id"] = pd.array(
                    [None if x is None else int(x) for x in out_nid],
                    dtype="Int64",
                )
                cols["neg_cosine"] = pd.to_numeric(
                    pd.Series(out_nco), errors="coerce"
                )
            yield pd.DataFrame(cols)

    return corpus.select(*need).mapInPandas(gen, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    n_probes: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """IVF search: nearest centroid per query (rounded score, ties →
    smallest label), then exact cosine top-k within that cell only.

    ``dim`` (optional) is the corpus's uniform vector width; it is only
    consulted on the over-gate distributed path, where it switches the
    per-pair scoring from interpreted HOF folds to the flat codegen form
    (184 → 64 s measured at 8k×8k) — pass it for big query sets.

    ``n_probes > 1`` probes the n nearest cells (the standard IVF recall
    knob): probe cells become EXTRA query-block entries — a corpus row
    belongs to exactly one cell, so the per-query union needs no dedup
    and the final rank window takes the global top-k across probed
    cells. Probed fraction becomes n_probes/n_cells.

    Probed fraction = 1/n_cells of the corpus. Centroids (n_cells rows)
    and queries (bounded) are collected; the assignment replicates the
    old JVM plan bit-for-bit — ``py_dround(fold_cosine(qv, centroid), 6)``
    DESC, label ASC — over the same centroid doubles Spark computed, so
    the probed cell is unchanged. 3 jobs (centroids + queries + ranked
    action) vs 7 in the old window-assign plan; in-cell scoring runs
    through the vectorized kernel instead of interpreted HOF folds.

    An over-threshold query block (``> QUERY_BLOCK_MAX`` rows after the
    null-vector filter) falls back to the fully distributed
    ``_ivf_join_plan`` — in-plan probe assignment, no driver collect
    (VERDICT r8 task 5)."""
    if n_probes < 1:
        raise ValueError(f"n_probes must be >= 1, got {n_probes}")
    # NULL query vectors are out of scope on both sides — filtered BEFORE
    # the gate so every entry point accounts the block identically
    # (ADVICE r8: brute/ivf gated unfiltered while lsh gated filtered)
    queries = queries.filter(F.col(qvec_col).isNotNull())
    qrows = _collect_query_block(queries, [qid_col, qvec_col], QUERY_BLOCK_MAX)
    if qrows is None:
        return _ivf_join_plan(
            corpus, queries, k, label_col, vec_col, id_col, qid_col,
            qvec_col, n_probes, dim,
        )
    # centroid assembly happens driver-side anyway, so collect the
    # per-dim means directly and skip label_centroids' second groupBy
    # (array re-collect) exchange — one fewer AQE stage job; the values
    # are the identical avg() doubles, ordered by pos exactly as
    # array_sort ordered them (r9 job cut; shared with the assignment
    # family via collect_centroids — review r9: no hand-synced copies)
    cents = collect_centroids(corpus, label_col, vec_col)
    qinfo = []

    from us_weather_energy_analysis_pipeline_spark.corpus._util import py_dround

    def _cell_key(qv, c):
        # NULL scores (zero-norm query or centroid) rank LAST, matching
        # the legacy JVM window plan's score DESC ordering (Spark DESC =
        # NULLS LAST); label ASC breaks ties either way.
        s = fold_cosine(qv, c[1])
        return (1, 0.0, c[0]) if s is None else (0, -py_dround(s, 6), c[0])

    for r in qrows:
        if r[qid_col] is None or r[qvec_col] is None or not cents:
            continue
        qv = list(r[qvec_col])
        ranked = sorted(cents, key=lambda c: _cell_key(qv, c))
        for cell, _ in ranked[:n_probes]:
            qinfo.append((r[qid_col], qv, cell))
    return topk_candidates(
        corpus,
        qinfo,
        k,
        id_col=id_col,
        vec_col=vec_col,
        qid_name=qid_col,
        match_col=label_col,
        out_match="cell",
    ).select(qid_col, "cell", id_col, "cosine", "rnk")


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic md5-seeded hyperplanes: w[p][i] ∈ [-127.5, 127.5]
    from the first 2 hex digits of md5(f"{p}:{i}") — any engine (or the
    SQL oracle) regenerates the identical planes."""
    return [
        [
            int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:2], 16) - 127.5
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def _dot_sql(a: str, b: str) -> str:
    """SQL text of the sequential-fold dot product — same expression tree
    as ``dot()`` (CAST both sides to DOUBLE, left-to-right fold), but one
    parser pass instead of per-element Py4J calls."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def lsh_bucket_code(vec_col: str, planes: list[list[float]]) -> Column:
    """Σ 2^p · [dot(v, w_p) ≥ 0] — the P-bit hyperplane signature.

    Built as ONE ``F.expr`` SQL string: the per-plane Column arithmetic
    (P × dim ``F.lit`` objects) was ~400 Py4J roundtrips ≈ 0.5 s of
    driver latency per call site. Plane weights are exact in SQL text
    (they are k − 127.5 halves, so ``repr`` round-trips them)."""
    terms = " + ".join(
        f"(CASE WHEN {_dot_sql(vec_col, _arr_sql(w))} >= CAST(0 AS DOUBLE) "
        f"THEN {2**p} ELSE 0 END)"
        for p, w in enumerate(planes)
    )
    return F.expr(f"CAST({terms} AS INT)")


def _arr_sql(w: list[float]) -> str:
    return "array(" + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in w) + ")"


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int = 6,
    dim: int = 64,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qv",
) -> DataFrame:
    """Bucketed ANN: candidates share the query's exact P-bit code, ranked
    by exact cosine within the bucket. Corpus codes are computed in the
    vectorized kernel (numpy sign bits, fold-refined when a plane dot is
    within 1e-9 of zero so boundary signs match the SQL CASE codes);
    query codes use the exact fold driver-side. One corpus pass, scoring
    restricted to bucket matches — no bucket shuffle at all (the old plan
    equi-joined on the code; here the bucket test is a per-row mask
    against the ≤2^P query codes riding in the closure)."""
    # NULL vectors are out of scope on both sides (r7 embedding null-fuzz;
    # DuckDB's list_inner_product rejects NULL elements outright)
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(qvec_col).isNotNull())
    planes = hyperplanes(n_planes, dim)

    def code_of(qv: list[float]) -> int:
        code = 0
        for p, w in enumerate(planes):
            d = 0.0
            for x, y in zip(qv, w):
                d = d + x * y
            if d >= 0:
                code += 2**p
        return code

    # contract: query vectors are non-null (null rows are dropped — the
    # legacy plan emitted all-null cosines for them, never exercised)
    qinfo = []
    qrows = _collect_query_block(queries, [qid_col, qvec_col], QUERY_BLOCK_MAX)
    if qrows is None:
        # over-threshold block: fully distributed in-plan code assignment,
        # no driver collect (VERDICT r8 task 5)
        return _lsh_join_plan(
            corpus, queries, planes, k, 1, id_col, vec_col, qid_col, qvec_col
        )
    for r in qrows:
        if r[qid_col] is None or r[qvec_col] is None:
            continue
        qv = list(r[qvec_col])
        qinfo.append((r[qid_col], qv, code_of(qv)))
    return topk_candidates(
        corpus,
        qinfo,
        k,
        id_col=id_col,
        vec_col=vec_col,
        qid_name=qid_col,
        planes=planes,
        out_match="bucket",
    ).select(qid_col, "bucket", id_col, "cosine", "rnk")


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int = 6,
    dim: int = 64,
    k: int = 3,
    n_probes: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qv",
) -> DataFrame:
    """Multi-probe hyperplane LSH (Lv et al. 2007): each query probes its
    own code PLUS the ``n_probes − 1`` neighboring codes obtained by
    flipping the sign bits whose hyperplane margins |dot(q, w_p)| are
    smallest — the standard recall lever that avoids building multiple
    hash tables. Same plan shape as ``lsh_topk`` (one corpus pass, no
    bucket shuffle): the probe set is just EXTRA query-block entries fed
    to ``topk_candidates`` (a corpus row matches at most one probe — its
    own code — so the union needs no dedup), and the final rank window
    per qid takes the global top-k across probes.

    Cross-engine determinism of the probe CHOICE: margins are compared
    at 6 dp (binary-round twin) with the plane index as tie-break, so an
    oracle recomputing |dot| in another engine picks the same flips even
    when the raw doubles differ in the last bits. ``bucket`` in the
    output is the probe bucket that found the candidate (= the
    candidate's own code)."""
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(qvec_col).isNotNull())
    planes = hyperplanes(n_planes, dim)
    # single-bit flips give exactly n_planes + 1 distinct probes (own code
    # + one per plane); a larger n_probes would silently truncate to the
    # same probe set, so reject it (VERDICT r8 task 8 — multi-bit
    # perturbation sets, Lv et al. §4, are not implemented)
    if not 1 <= n_probes <= n_planes + 1:
        raise ValueError(
            f"n_probes must be in [1, {n_planes + 1}] (own code + one "
            f"single-bit flip per plane), got {n_probes}"
        )
    from us_weather_energy_analysis_pipeline_spark.corpus._util import py_dround

    qrows = _collect_query_block(queries, [qid_col, qvec_col], QUERY_BLOCK_MAX)
    if qrows is None:
        # over-threshold block: codes, margins, and the flip set computed
        # in-plan; no driver collect (VERDICT r8 task 5)
        return _lsh_join_plan(
            corpus, queries, planes, k, n_probes, id_col, vec_col,
            qid_col, qvec_col,
        )
    qinfo = []
    for r in qrows:
        if r[qid_col] is None or r[qvec_col] is None:
            continue
        qv = list(r[qvec_col])
        dots = []
        for w in planes:
            d = 0.0
            for x, y in zip(qv, w):
                d = d + x * y
            dots.append(d)
        code = sum(2**p for p, d in enumerate(dots) if d >= 0)
        # flip order: smallest 6-dp-rounded margin first, plane idx ties
        order = sorted(
            range(len(planes)), key=lambda p: (py_dround(abs(dots[p]), 6), p)
        )
        probe_codes = [code] + [code ^ (1 << p) for p in order[: n_probes - 1]]
        for c in probe_codes:
            qinfo.append((r[qid_col], qv, c))
    return topk_candidates(
        corpus,
        qinfo,
        k,
        id_col=id_col,
        vec_col=vec_col,
        qid_name=qid_col,
        planes=planes,
        out_match="bucket",
    ).select(qid_col, "bucket", id_col, "cosine", "rnk")


# Rows per block of the block-pair verifier: no task holds more than two
# blocks (~BLOCK_ROWS·dim·8 B each). Read at call time.
BLOCK_ROWS = 8192
# The verifier keeps exact cosines down to threshold − _PAIR_MARGIN; the
# caller applies its final (raw or rounded) threshold to them.
_PAIR_MARGIN = 1e-6
_PAIR_SCHEMA = "id_a long, id_b long, cosine double"


def _pair_kernels(vec_col: str, cut: float):
    """The two in-task kernels both verifier plans run, as closures:

    - ``stack(vals)``: Arrow's per-row vectors → one float64 matrix
      (array<float> widens exactly), with an actionable error on ragged
      input instead of numpy's inhomogeneous-shape traceback (r7
      ragged-embedding fuzz; DuckDB's list_* similarity functions reject
      mixed lengths the same way);
    - ``pairs(ids_a, ma, ids_b, mb, same)``: float64 matmul prefilter at
      ``cut``, id-ordered orientation (upper triangle when both sides
      are the same block; (min, max) across hash blocks, which are not
      id-ranged), then the survivors re-scored with the sequential fold
      — bit-identical to the SQL ``cosine()`` expression (aggregate/
      zip_with fold left-to-right over doubles, Math.sqrt), so the kept
      decision agrees exactly with a JVM re-score. Returns
      ``(id_a, id_b, cosine)`` for exact cosines ``>= cut``.

    Built NESTED on purpose: a module-level helper would be cloudpickled
    BY REFERENCE, and the Python workers of a driver that merely added
    this repo to ITS OWN sys.path cannot import the package — the task
    would die with ModuleNotFoundError. Closures serialize by value and
    carry no package dependency."""

    def stack(vals):
        import numpy as np

        try:
            # vstack is C-speed; fall back for plain-list rows
            return np.vstack(vals).astype(np.float64, copy=False)
        except (ValueError, TypeError):
            try:
                return np.array([list(v) for v in vals], dtype=np.float64)
            except (ValueError, TypeError) as e:
                lens = sorted({len(v) for v in vals})
                raise ValueError(
                    f"ragged embedding block in {vec_col!r}: vector "
                    f"lengths {lens} — similarity ops require uniform "
                    "dimensionality"
                ) from e

    def pairs(ids_a, ma, ids_b, mb, same):
        import math

        import numpy as np
        import pandas as pd

        na = np.sqrt((ma * ma).sum(axis=1))
        nb = np.sqrt((mb * mb).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (ma @ mb.T) / np.outer(na, nb)
        ii, jj = np.nonzero(cos >= cut)
        a, b = ids_a[ii], ids_b[jj]
        if same:
            # the full matrix holds each unordered pair twice
            keep = a < b
            ii, jj, lo, hi = ii[keep], jj[keep], a[keep], b[keep]
        else:
            lo, hi = np.minimum(a, b), np.maximum(a, b)
        keep_idx, cvals = [], []
        for t, (bi, bj) in enumerate(zip(ii, jj)):
            va, vb = ma[bi].tolist(), mb[bj].tolist()
            d = 0.0
            for x, y in zip(va, vb):
                d = d + x * y
            sa = 0.0
            for x in va:
                sa = sa + x * x
            sb = 0.0
            for y in vb:
                sb = sb + y * y
            c = d / (math.sqrt(sa) * math.sqrt(sb))
            if c >= cut:
                keep_idx.append(t)
                cvals.append(c)
        return pd.DataFrame(
            {
                "id_a": lo[keep_idx],
                "id_b": hi[keep_idx],
                "cosine": np.asarray(cvals, dtype=np.float64),
            }
        )

    return stack, pairs


def _pack_blocks(
    emb: DataFrame, id_col: str, vec_col: str, stack, grp_col: str = "_grp"
) -> DataFrame:
    """Pack each ``(grp, bid)`` block into ONE row
    ``(grp, bid, nb, ids array<bigint>, dim, mat binary)`` — the float64
    matrix serialized contiguous (``numpy.tobytes``), so a block-pair task
    reconstructs both operands with a zero-copy ``frombuffer``.
    Expects ``bid``/``nb`` columns already assigned (hash-block id and the
    group's block count)."""
    import numpy as np
    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = stack(pdf[vec_col].to_numpy())
        return pd.DataFrame(
            {
                grp_col: [pdf[grp_col].iloc[0]],
                "bid": [int(pdf["bid"].iloc[0])],
                "nb": [int(pdf["nb"].iloc[0])],
                "ids": [pdf[id_col].to_numpy(dtype=np.int64)],
                "dim": [mat.shape[1]],
                "mat": [mat.tobytes()],
            }
        )

    return emb.groupBy(grp_col, "bid").applyInPandas(
        pack, f"{grp_col} long, bid int, nb int, ids array<bigint>, dim int, mat binary"
    )


def grouped_candidate_pairs(
    df: DataFrame,
    threshold: float,
    grp_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairs ``(id_a < id_b, cosine)`` WITHIN each group of ``grp_col``
    whose exact sequential-fold cosine is ``>= threshold - 1e-6`` — the
    bounded in-bucket verifier for LSH pipelines. The final decision (raw
    ``>= threshold``, or a rounded comparison) belongs to the caller as a
    filter on ``cosine``, which is bit-identical to a JVM re-score; the
    survivors are re-scored IN-TASK from the vectors already in hand, so
    no join back to the source appears in the plan.

    Single-block path (VERDICT r8 task 2): when parquet footer metadata
    proves the WHOLE input fits one block (``input_rows(df) <=
    BLOCK_ROWS`` with a row-bounded plan — job-free, and an upper bound
    on every group's size), pair generation is ONE
    groupBy(grp).applyInPandas running the in-group upper triangle.
    Every corpus SF takes it.

    Blocked path, the only memory-bounded plan for groups larger than one
    block: no task ever holds more than two ``BLOCK_ROWS``-row blocks.
    Group sizes are counted once (tiny agg, broadcast back), each group
    is hash-split into ``ceil(n/BLOCK_ROWS)`` blocks, and block pairs
    co-locate via one equi-join on ``(grp, i, j)``. A pathological bucket
    (everything hashed together) degrades to more block pairs, not to one
    OOM-ing task. The input (often a non-trivial upstream: LSH coding,
    projections) is read by two plan branches (sizes agg + pack) and the
    packed blocks by two more (left/right of the pair join) — both are
    persisted via operators.cache so no branch re-executes the upstream
    subtree (exchange reuse measurably does not collapse them)."""
    # NULL vectors produce no candidates (r7 embedding null-fuzz: a None
    # row crashed the block-pack np.stack); the e2e pipelines keep such
    # ids as singletons via their outer join, matching the oracle
    df = df.filter(F.col(vec_col).isNotNull())
    import numpy as np

    from us_weather_energy_analysis_pipeline_spark.operators.plan_meta import (
        _plan_row_bounded,
        input_rows,
    )

    stack, pairs = _pair_kernels(vec_col, threshold - _PAIR_MARGIN)
    if input_rows(df) <= BLOCK_ROWS and _plan_row_bounded(df):

        def one_block(pdf):
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = stack(pdf[vec_col].to_numpy())
            return pairs(ids, mat, ids, mat, True)

        return (
            df.select(grp_col, id_col, vec_col)
            .groupBy(grp_col)
            .applyInPandas(one_block, _PAIR_SCHEMA)
        )

    from us_weather_energy_analysis_pipeline_spark.operators import cache

    df = cache.track(df)
    sizes = df.groupBy(grp_col).agg(
        F.ceil(F.count(F.lit(1)) / F.lit(BLOCK_ROWS)).cast("int").alias("nb")
    )
    keyed = (
        df.join(F.broadcast(sizes), grp_col)
        .select(
            # xxhash64 of the group key, NOT cast(key as long): a cast
            # nulls out any non-numeric group (e.g. a hex-digest string
            # bucket) and the null-unsafe pair join would then silently
            # return ZERO candidates. The hash accepts any type; a 2^-64
            # collision merely co-blocks two buckets, whose cross pairs
            # the cosine threshold still filters.
            F.xxhash64(F.col(grp_col)).alias("_grp"),
            "nb",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("nb")).cast("int").alias("bid"),
            id_col,
            vec_col,
        )
    )
    blocks = cache.track(_pack_blocks(keyed, id_col, vec_col, stack))
    left = blocks.select(
        F.col("_grp"),
        F.col("bid").alias("i"),
        F.explode(F.sequence("bid", F.col("nb") - 1)).alias("j"),
        F.col("ids").alias("ids_a"),
        F.col("dim").alias("dim_a"),
        F.col("mat").alias("mat_a"),
    )
    right = blocks.select(
        F.col("_grp"),
        F.explode(F.sequence(F.lit(0), "bid")).alias("i"),
        F.col("bid").alias("j"),
        F.col("ids").alias("ids_b"),
        F.col("dim").alias("dim_b"),
        F.col("mat").alias("mat_b"),
    )
    paired = left.join(right, ["_grp", "i", "j"])

    def block_pairs(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                ids_a = np.asarray(r.ids_a, dtype=np.int64)
                ids_b = np.asarray(r.ids_b, dtype=np.int64)
                ma = np.frombuffer(r.mat_a, dtype=np.float64).reshape(
                    len(ids_a), r.dim_a
                )
                mb = np.frombuffer(r.mat_b, dtype=np.float64).reshape(
                    len(ids_b), r.dim_b
                )
                yield pairs(ids_a, ma, ids_b, mb, r.i == r.j)

    return paired.mapInPandas(block_pairs, _PAIR_SCHEMA)


def cosine_pairs_filter_refine(
    emb: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All pairs (id_a < id_b) with exact cosine >= threshold, via
    DISTRIBUTED block-pair filter-and-refine — no driver collect, no
    full-matrix broadcast (both were the round-1 scale ceiling).

    Stage 1 (pack): rows are hashed into B = ceil(n / BLOCK_ROWS) blocks;
    each block becomes one (ids, matrix-bytes) row (~BLOCK_ROWS·dim·8 B).
    Stage 2 (pair): block i is exploded to pair keys (i, j≥i) on one side
    and (i≤j, j) on the other; an equi-join on (i, j) co-locates every
    block pair with ONE hash shuffle — each block is replicated ~B/2×,
    the irreducible cost of exact all-pairs, but no task ever holds more
    than two blocks and the driver holds nothing.
    Stage 3 (filter): per block pair, a vectorized numpy product prunes
    the pair space down to candidates above ``threshold - 1e-6``
    (upper triangle only when i == j).
    Stage 4 (refine): survivors are re-scored EXACTLY with the sequential
    fold formula (``cosine()`` above), so the result is bit-identical to
    evaluating every pair — numpy's BLAS summation order differs from the
    fold only at ~1e-15 relative, far inside the margin.

    Returns (id_a, id_b, cosine) with the raw double cosine — callers
    round/alias as needed. For web-scale corpora where even B² block
    pairs is too many, run the approximate path first (LSH banding as in
    ``lsh_topk``) and feed each bucket through this exact verifier.

    Implemented as ``grouped_candidate_pairs`` with one constant group —
    the same bounded block-pair machinery the LSH pipelines use per
    bucket (no separate count action, no driver-held sizes), including
    its single-block path for inputs that fit one block.
    """
    # NULL vectors cannot be scored (r7 embedding null-fuzz: np.stack on a
    # None row crashed the pack kernel); excluded here so every caller —
    # incl. the e2e pipelines — inherits the contract
    emb = emb.filter(F.col(vec_col).isNotNull())
    return grouped_candidate_pairs(
        emb.withColumn("_g", F.lit(0)),
        threshold,
        "_g",
        id_col=id_col,
        vec_col=vec_col,
    ).filter(F.col("cosine") >= threshold)
