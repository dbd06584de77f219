"""Connected components over a pair-edge list — the clustering step that
turns near-dup PAIRS into dedup GROUPS (keep one canonical doc per
component).

Algorithm: iterative min-label propagation on the undirected edge list —
each node adopts the smallest label among itself and its neighbors until
fixpoint. Per iteration: one join edges⨝labels + one min-aggregate; the
iteration count is O(diameter) (near-dup graphs are shallow — dup
clusters are cliques-ish, so 2-4 rounds typically converge). The driver
loop only checks a convergence COUNT per round; all data stays
distributed. For graphs with giant components, switch to the
large-star/small-star algorithm (Kiveris et al.) — same building blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.operators.plan_meta import small_keys_frame


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node in the edge list; component =
    smallest node id reachable.

    Adaptive execution: LSH/Jaccard candidate graphs are usually TINY
    relative to the corpus (that is the whole point of blocking), so when
    the edge list is under ``driver_threshold`` rows it is collected and
    solved with union-find on the driver — O(E α(E)) and zero extra Spark
    rounds. Above the threshold, distributed min-label propagation runs:
    ≤ diameter iterations of join + min-aggregate (bounded by
    ``max_iter``; raises if not converged — at that scale, raise the
    bound or move to star-contraction rather than silently stopping).
    The gate and the collect are one job (``plan_meta.small_keys_frame``)
    over the persisted edges, so the distributed path reads them already
    materialized.
    """
    spark = edges.sparkSession
    edges = edges.select(src, dst).persist()
    try:
        pdf = small_keys_frame(
            edges, [src, dst], gate=driver_threshold, track_on_fallback=False
        )
        if pdf is not None:
            # plain Python ints, not numpy scalars: union-find hashes
            # and compares them, and local_df ships them back
            return _union_find_rows(
                spark, list(zip(pdf[src].tolist(), pdf[dst].tolist()))
            )
        return _propagate(edges, src, dst, max_iter)
    finally:
        edges.unpersist()


_HARD_ITER_BOUND = 64  # doubling covers diameter 2^64 — always enough


def _propagate(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    """Min-label propagation with POINTER JUMPING: each round first takes
    the min label over the node's neighborhood (one join + min-aggregate),
    then follows the label one hop through the label table itself
    (comp := min(comp, comp[comp]) — path doubling, the contraction step
    of large-star/small-star). Effective propagation distance doubles per
    round, so convergence is O(log diameter) rounds, not O(diameter): a
    10-round budget covers diameter ~2^10, and the hard 64-round bound is
    sufficient for any graph that fits in 64-bit ids — a giant-path
    component degrades to a few extra rounds instead of a RuntimeError.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # materialize ONCE — without this, every iteration's join re-executes
        # the full upstream lineage (e.g. the near-dup pair query) per round
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for _ in range(max(max_iter, _HARD_ITER_BOUND)):
        # each node's candidate label: min over its own and neighbors'
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("ncomp"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp"))).alias("comp"),
        )
        # pointer jump: comp := min(comp, comp[comp]) — labels are node ids,
        # so every comp value resolves in the label table
        hop = stepped.select(
            F.col("node").alias("cnode"), F.col("comp").alias("ccomp")
        )
        new_labels = (
            stepped.join(hop, stepped.comp == hop.cnode)
            .select("node", F.least("comp", "ccomp").alias("comp"))
            .localCheckpoint(eager=True)  # cut lineage per round
        )
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "node")
            .filter(F.col("o.comp") != F.col("n.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {_HARD_ITER_BOUND} iterations"
    )


def _union_find_rows(spark, pairs) -> DataFrame:
    """Small-graph path: path-compressed union-find over already-collected
    edge rows, shipped back as a DataFrame. Component id = smallest
    member."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in pairs:
        a, b = find(r[0]), find(r[1])
        if a != b:
            # union by smaller id so the root IS the component id
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    nodes = set()
    for r in pairs:
        nodes.add(r[0])
        nodes.add(r[1])
    rows = [(n, find(n)) for n in sorted(nodes)]
    # NOT broadcast-hinted here: whether the labeling feeds a join is the
    # CONSUMER's call (dedup_cluster_assign returns it directly — a hint
    # attached here would dangle and fold off with a HintErrorLogger
    # warning); join consumers hint at their own join site. local_df
    # (Arrow LocalRelation) keeps size statistics visible, so even an
    # unhinted join auto-broadcasts under the threshold.
    from us_weather_energy_analysis_pipeline_spark.session import local_df

    return local_df(spark, rows, "node long, comp long")


def dedup_clusters(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
) -> DataFrame:
    """Near-dup pairs → (doc_id, cluster_id, is_canonical): cluster_id is
    the smallest doc_id in the component; that doc is the canonical
    survivor, the rest are drop candidates."""
    comp = connected_components(pairs, doc_a, doc_b)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.when(F.col("node") == F.col("comp"), 1).otherwise(0).alias("is_canonical"),
    )
