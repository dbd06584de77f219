"""Multimodal columns: opaque binary payloads + typed metadata, with
Arrow-batched Pandas-UDF decode plumbing (SURVEY extension scope).

Design for 100 TB of images/audio/video:
- payloads are opaque ``binary`` columns next to typed metadata — the
  relational planner prunes/filters on metadata without touching bytes;
- decode / feature-extract runs in ``mapInPandas`` (Arrow batches, one
  Python worker per partition — never a row-at-a-time UDF);
- partition sizing: binary rows are fat, so the reader caps
  ``maxPartitionBytes`` rather than rows-per-partition.

The image/audio codecs are NOT in this container, so the real decoders
are STUBS behind import-tries (NotImplementedError); ``fake_decode_meta``
is a deterministic md5-derived stand-in that keeps the full Spark-side
plumbing (schema, batching, partitioning) real and oracle-checkable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_META_SCHEMA = "doc_id bigint, n_bytes bigint, width int, height int, n_frames int"


def to_blob_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """documents → blob table: (doc_id, payload binary, mime, n_bytes).
    Stands in for an image/audio corpus: payload = utf8 bytes of text."""
    payload = F.col(text_col).cast("binary")
    return df.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def fake_decode_meta(blobs: DataFrame) -> DataFrame:
    """Deterministic FAKE decode via mapInPandas: extracts (width, height,
    n_frames) from the md5 of the payload — the real pattern is identical,
    only the body of ``_decode_batch`` changes when codecs exist.

    Arrow moves the binary column to Python in columnar batches; the
    output schema is pinned so Catalyst plans downstream ops normally.
    """

    def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload → NULL meta fields, row preserved — the same
            # "undecodable yields nulls, never crashes the task" contract
            # decode_image has (and what the oracle's md5(NULL) emits);
            # nullable Int64 arrays keep the Arrow schema integral.
            hexes = [
                None if p is None else hashlib.md5(p).hexdigest()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(
                        [None if p is None else len(p) for p in pdf["payload"]],
                        dtype="Int64",
                    ),
                    "width": pd.array(
                        [
                            None if h is None else 64 + int(h[0:4], 16) % 960
                            for h in hexes
                        ],
                        dtype="Int64",
                    ),
                    "height": pd.array(
                        [
                            None if h is None else 64 + int(h[4:8], 16) % 960
                            for h in hexes
                        ],
                        dtype="Int64",
                    ),
                    "n_frames": pd.array(
                        [
                            None if h is None else 1 + int(h[8:10], 16) % 30
                            for h in hexes
                        ],
                        dtype="Int64",
                    ),
                }
            )

    return blobs.mapInPandas(_decode_batch, DECODE_META_SCHEMA)


AHASH_BANDS_SCHEMA = "doc_id bigint, b0 int, b1 int, b2 int, b3 int"
AHASH_CELLS = 64  # 8x8 grid -> 64-bit fingerprint, emitted as 4x16-bit bands


def ahash_bands(blobs: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over opaque payload bytes — the
    LAION-class image-dedup fingerprint, with the byte grid standing in
    for the decoded-pixel grid (codec-free twin of :func:`phash_image_bands`,
    same relationship as ``fake_decode_meta`` to ``decode_image``).

    Per payload: sample 64 bytes at positions ``(n*k) DIV 64`` (a
    nearest-neighbor downsample of the byte stream), set bit k iff
    ``sample_k * 64 > sum(samples)`` — the strict integer form of
    "pixel above the mean", so the fingerprint is EXACT integer
    arithmetic, reproducible across engines with no float contract.
    The 64-bit fingerprint is emitted as four 16-bit band ints
    (b0..b3): avoids signed-overflow corner cases at bit 63 on both
    engines AND is already the banding an LSH near-dup join needs
    (Hamming distance ≤ 3 ⟹ at least one of 4 bands identical, by
    pigeonhole).

    mapInPandas kernel: Arrow moves the binary column in columnar
    batches; per batch the 64-sample gather is the only per-row step —
    thresholding and band packing are one vectorized matmul over the
    whole batch. NULL/empty payloads yield no fingerprint row (callers
    filter them out JVM-side; the guard here keeps a fuzzed batch from
    crashing the task)."""

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ar = np.arange(AHASH_CELLS)
        w16 = 1 << np.arange(16, dtype=np.int64)
        for pdf in batches:
            ids, rows = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                if p is None or len(p) == 0:
                    continue
                a = np.frombuffer(p, np.uint8)
                rows.append(a[(len(a) * ar) // AHASH_CELLS])
                ids.append(doc_id)
            if not ids:
                continue
            m = np.stack(rows).astype(np.int64)  # batch x 64
            bits = (m * AHASH_CELLS > m.sum(axis=1, keepdims=True)).astype(
                np.int64
            )
            out = {"doc_id": ids}
            for b in range(4):
                out[f"b{b}"] = bits[:, 16 * b : 16 * b + 16] @ w16
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_batch, AHASH_BANDS_SCHEMA)


def phash_image_bands(blobs: DataFrame) -> DataFrame:
    """REAL image aHash (PIL behind an import-try, like
    :func:`decode_image`): decode payload → grayscale → 8×8 nearest
    resize → the same strict integer threshold and 4×16-bit band packing
    as :func:`ahash_bands` (only the pixel source differs, so the
    banded-dedup machinery downstream is shared). Undecodable payloads
    yield no row. Raises NotImplementedError when Pillow is absent."""
    try:
        import PIL.Image  # noqa: F401, PLC0415
    except ImportError as e:
        raise NotImplementedError(
            "phash_image_bands requires Pillow; use ahash_bands for the "
            "codec-free fingerprint plumbing"
        ) from e

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import numpy as np
        from PIL import Image

        w16 = 1 << np.arange(16, dtype=np.int64)
        for pdf in batches:
            ids, rows = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    with Image.open(io.BytesIO(p)) as im:
                        g = im.convert("L").resize(
                            (8, 8), Image.Resampling.NEAREST
                        )
                        rows.append(
                            np.asarray(g, dtype=np.int64).reshape(64)
                        )
                        ids.append(doc_id)
                except Exception:
                    continue
            if not ids:
                continue
            m = np.stack(rows)
            bits = (m * AHASH_CELLS > m.sum(axis=1, keepdims=True)).astype(
                np.int64
            )
            out = {"doc_id": ids}
            for b in range(4):
                out[f"b{b}"] = bits[:, 16 * b : 16 * b + 16] @ w16
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_batch, AHASH_BANDS_SCHEMA)


def phash_near_pairs(
    bands: DataFrame, ham_max: int = 3, bucket_cap: int = 128
) -> DataFrame:
    """Banded near-dup pairing over aHash fingerprints: candidate pairs
    share at least one of the 4 bands (for ``ham_max`` ≤ 3 this is
    EXACT by pigeonhole — ≤ 3 differing bits cannot touch all 4 bands);
    candidates are verified by true Hamming distance (bit_count over the
    4 per-band XORs) and deduped across multiply-matching bands.

    100 TB posture: the self-join is keyed on (band_no, band_val) — the
    standard LSH bucket exchange, never all-pairs. Buckets larger than
    ``bucket_cap`` are dropped from candidate generation (web-scale
    corpora have degenerate fingerprints — blank thumbnails — whose
    buckets would pair quadratically; same discipline as the hot-shingle
    anti-join in corpus/dedup_q.py). The cap is a visible semantic
    parameter, not a silent truncation: members of a dropped bucket can
    still pair through their other three bands."""
    spark = bands.sparkSession
    return spark.sql(
        f"""
        WITH exploded AS (
          SELECT doc_id, b0, b1, b2, b3, band_no,
                 CASE band_no WHEN 0 THEN b0 WHEN 1 THEN b1
                              WHEN 2 THEN b2 ELSE b3 END AS band_val
          FROM {{bands}}
          LATERAL VIEW explode(array(0, 1, 2, 3)) t AS band_no
        ),
        kept AS (
          SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY band_no, band_val) AS bsz
            FROM exploded
          ) WHERE bsz <= {bucket_cap}
        )
        SELECT doc_a, doc_b, CAST(min(hamming) AS INT) AS hamming
        FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(a.b0 ^ b.b0) + bit_count(a.b1 ^ b.b1)
                 + bit_count(a.b2 ^ b.b2) + bit_count(a.b3 ^ b.b3) AS hamming
          FROM kept a JOIN kept b
            ON a.band_no = b.band_no AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
        )
        WHERE hamming <= {ham_max}
        GROUP BY doc_a, doc_b
        """,
        bands=bands,
    )


def decode_image(blobs: DataFrame) -> DataFrame:
    """REAL image decode (PIL behind an import-try): mapInPandas over the
    binary payload → (doc_id, n_bytes, width, height, mode); undecodable
    payloads yield nulls instead of failing the task. Raises
    NotImplementedError only when Pillow is absent (this container) — the
    plumbing is the same Arrow-batched shape as fake_decode_meta."""
    try:
        import PIL.Image  # noqa: F401, PLC0415
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires Pillow; use fake_decode_meta for plumbing tests"
        ) from e

    def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image

        for pdf in batches:
            ws, hs, modes = [], [], []
            for p in pdf["payload"]:
                try:
                    with Image.open(io.BytesIO(p)) as im:
                        ws.append(im.width)
                        hs.append(im.height)
                        modes.append(im.mode)
                except Exception:
                    ws.append(None)
                    hs.append(None)
                    modes.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "width": ws,
                    "height": hs,
                    "mode": modes,
                }
            )

    return blobs.mapInPandas(
        _decode_batch, "doc_id bigint, n_bytes bigint, width int, height int, mode string"
    )


def frame_sample_bytes(
    blobs: DataFrame, frame_size: int = 16, every_n: int = 4
) -> DataFrame:
    """Deterministic frame sampling over opaque payloads: treat the binary
    as consecutive ``frame_size``-byte frames and keep every ``every_n``-th
    — the REAL 1→N row-explosion plumbing a video sampler needs
    (mapInPandas yielding more rows than it consumes, frame index carried
    alongside), with byte-slicing standing in for the codec. Swap the
    slicing for an actual decoder (PyAV/OpenCV) when present; the schema,
    batching, and partition behavior are unchanged."""

    def _sample_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                n = len(p) // frame_size
                for i in range(0, n, every_n):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(bytes(p[i * frame_size : (i + 1) * frame_size]))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return blobs.mapInPandas(
        _sample_batch, "doc_id bigint, frame_idx int, frame binary"
    )


def frame_sample_video(blobs: DataFrame, every_n: int = 4) -> DataFrame:
    """Video frame sampling with a REAL codec (PyAV), behind an
    import-try like the PIL decode path: decode each payload in-memory,
    keep every ``every_n``-th frame as raw RGB bytes with its index and
    dimensions. Same exploded mapInPandas shape as
    :func:`frame_sample_bytes` (the codec-free twin that keeps the
    plumbing testable in containers without PyAV); undecodable payloads
    yield zero rows rather than failing the batch.

    Raises ``NotImplementedError`` at plan-build time when PyAV is
    absent — fail fast on the driver, not per-task on executors.
    """
    if every_n < 1:
        # Validate at plan-build time: inside the per-payload loop a
        # ZeroDivisionError would be swallowed by the decode-error
        # handler and every payload would silently yield zero frames.
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    try:
        import av  # noqa: F401
    except ImportError as e:  # pragma: no cover - container has no codec
        raise NotImplementedError(
            "frame_sample_video requires PyAV; see frame_sample_bytes for "
            "the codec-free sampling plumbing"
        ) from e

    def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import av as _av

        # Only decode/IO failures mean "skip this payload"; logic bugs
        # (e.g. a bad argument) must still surface as task errors.
        # IndexError is a decode failure here: a well-formed container
        # with NO video stream raises it from decode(video=0).
        codec_errors = tuple(
            e
            for e in (
                getattr(_av, "AVError", None),
                getattr(getattr(_av, "error", None), "FFmpegError", None),
                OSError,
                EOFError,
                IndexError,
            )
            if isinstance(e, type)
        )
        for pdf in batches:
            ids, idxs, ws, hs, frames = [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    with _av.open(io.BytesIO(bytes(p))) as container:
                        for i, frame in enumerate(container.decode(video=0)):
                            if i % every_n:
                                continue
                            rgb = frame.to_ndarray(format="rgb24")
                            ids.append(doc_id)
                            idxs.append(i)
                            hs.append(rgb.shape[0])
                            ws.append(rgb.shape[1])
                            frames.append(rgb.tobytes())
                except codec_errors:
                    continue  # undecodable payload → no frames
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "width": ws,
                    "height": hs,
                    "frame": frames,
                }
            )

    return blobs.mapInPandas(
        _decode_batch,
        "doc_id bigint, frame_idx int, width int, height int, frame binary",
    )
