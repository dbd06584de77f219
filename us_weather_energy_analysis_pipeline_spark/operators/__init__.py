"""Reusable relational operators, each designed around its shuffle:

- ``spine``      calendar completion (generated spine LEFT JOIN facts)
- ``resample``   pandas-parity daily resampling (0.0-vs-NULL semantics)
- ``impute``     per-group mean imputation via partition windows
- ``dedup``      near-dup families: MinHash+LSH, SimHash, shingle Jaccard
- ``components`` connected components (dedup pairs → clusters)
- ``similarity`` vector search: brute-force, IVF, hyperplane-LSH
- ``asof``       backward as-of join (union-and-carry window)
- ``skew``       two-phase salted aggregation
- ``upsert``     staging → swap table replace; key-based parquet upsert
- ``multimodal`` binary columns + Arrow-batched decode plumbing
"""
