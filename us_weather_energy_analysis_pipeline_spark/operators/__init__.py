"""Reusable relational operators, each designed around its shuffle:

- ``spine``      calendar completion (generated spine LEFT JOIN facts),
                 each row carrying its city's observed first/last day
- ``dedup``      near-dup families: MinHash+LSH, SimHash, shingle Jaccard
- ``components`` connected components (dedup pairs → clusters)
- ``similarity`` vector search: brute-force, IVF, hyperplane-LSH
- ``asof``       backward as-of join (union-and-carry window)
- ``skew``       two-phase salted aggregation
- ``upsert``     staging → swap table replace; key-based parquet upsert
- ``multimodal`` binary columns + Arrow-batched decode plumbing
"""
