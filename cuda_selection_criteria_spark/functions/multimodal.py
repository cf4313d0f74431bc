"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spread import spread

MEDIA_SCHEMA = (
    "media_id long, payload binary, mime string, width int, height int, n_frames int"
)
FEATURE_SCHEMA = "media_id long, feature array<float>, feat_dim int"
THUMB_SCHEMA = "media_id long, thumb binary, thumb_w int, thumb_h int"


def _fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in for an image decoder: expands payload
    bytes into a (h, w) uint8 plane by tiling + index mixing. Pure
    function of (payload, w, h) — stable across runs/partitions."""
    if width <= 0 or height <= 0:
        return np.zeros((0, 0), dtype=np.uint8)
    src = np.frombuffer(payload, dtype=np.uint8)
    if src.size == 0:
        src = np.zeros(1, dtype=np.uint8)
    idx = (np.arange(height)[:, None] * 131 + np.arange(width)[None, :] * 31) % src.size
    return src[idx]


def media_features(media: DataFrame, feat_dim: int = 16) -> DataFrame:
    """Decode + pooled feature extraction per media row.

    The Spark plumbing (column pruning to payload+dims, Arrow batching,
    one numpy pass per batch) is the real deliverable; swap
    ``_fake_decode`` for a library decoder on a real cluster.
    """
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                plane = _fake_decode(bytes(payload or b""), int(w), int(h))
                if plane.size == 0:
                    feats.append(np.zeros(feat_dim, dtype=np.float32))
                    continue
                # pooled row/col means folded into a fixed-dim feature
                pool = np.concatenate(
                    [plane.mean(axis=0), plane.mean(axis=1), [plane.std()]]
                ).astype(np.float64)
                out = np.zeros(feat_dim, dtype=np.float64)
                np.add.at(out, np.arange(pool.size) % feat_dim, pool)
                feats.append((out / max(1, pool.size // feat_dim)).astype(np.float32))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "feature": feats,
                    "feat_dim": np.full(len(pdf), feat_dim, dtype=np.int32),
                }
            )

    # spread: the per-row decode is the heavy map stage (spread.py)
    src = spread(media.select("media_id", "payload", "width", "height"))
    return src.mapInPandas(fn, schema=FEATURE_SCHEMA)


def media_from_documents(documents: DataFrame, ascii_only: bool = False) -> DataFrame:
    """Deterministic media table derived from ``documents``: payload =
    UTF-8 text bytes, dims a pure function of doc_id. Because every
    column is derivable from the documents parquet, a DuckDB oracle can
    reproduce any integer feature of the decoded plane — giving the
    multimodal plumbing a hard hash-checked gate.

    By default EVERY document becomes a media row — real corpora are
    not ASCII, and the byte-level decoder handles any payload
    (``_fake_decode`` substitutes a zero byte for an empty one).
    ``ascii_only=True`` restricts to non-empty ASCII documents
    (octet_length == length) and exists solely for the ORACLE-GATED
    driver query: DuckDB's ord(substr(...)) indexes characters while
    the decoder indexes payload BYTES — they only agree byte-for-byte
    on ASCII — and the oracle's ``% n`` addressing is undefined on an
    empty payload. The restriction is mirrored in the DuckDB media CTE
    (__spark_entry__.oracle_sql), never imposed on production callers."""
    if ascii_only:
        documents = documents.where(
            (F.length("text") > 0) & (F.octet_length("text") == F.length("text"))
        )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("image/fake").alias("mime"),
        (F.lit(4) + F.pmod(F.col("doc_id"), F.lit(13))).cast("int").alias("width"),
        (F.lit(4) + F.pmod(F.col("doc_id"), F.lit(11))).cast("int").alias("height"),
        F.pmod(F.col("doc_id"), F.lit(120)).cast("int").alias("n_frames"),
    )


def media_feature_sums(media: DataFrame, feat_dim: int = 16) -> DataFrame:
    """(media_id, dim, feat_sum): integer pooled features of the decoded
    plane, exploded one row per feature dimension.

    feat_sum[d] = sum of plane bytes at flat positions == d mod feat_dim
    — integer-exact, so the result hashes identically across engines
    and partitionings (unlike the float pooling in media_features, whose
    array<float> output the driver's canonicalizer can't sort). Same
    decode plumbing (Arrow batches, mapInPandas, column pruning).
    """
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dims = np.arange(feat_dim, dtype=np.int32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, out_dims, sums = [], [], []
            for mid, payload, w, h in zip(
                pdf["media_id"], pdf["payload"], pdf["width"], pdf["height"]
            ):
                plane = _fake_decode(bytes(payload or b""), int(w), int(h))
                flat = plane.ravel().astype(np.int64)
                s = np.bincount(
                    np.arange(flat.size) % feat_dim, weights=flat, minlength=feat_dim
                ).astype(np.int64)
                ids.append(np.full(feat_dim, mid, dtype=np.int64))
                out_dims.append(dims)
                sums.append(s)
            yield pd.DataFrame(
                {
                    "media_id": np.concatenate(ids),
                    "dim": np.concatenate(out_dims),
                    "feat_sum": np.concatenate(sums),
                }
            )

    # spread: the per-row decode is the heavy map stage (spread.py)
    return spread(media.select("media_id", "payload", "width", "height")).mapInPandas(
        fn, schema="media_id long, dim int, feat_sum long"
    )


def media_thumbnails(media: DataFrame, max_side: int = 8) -> DataFrame:
    """Resize (nearest-neighbor) to a bounded thumbnail, re-encoded as
    raw bytes."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs, ws, hs = [], [], []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                plane = _fake_decode(bytes(payload or b""), int(w), int(h))
                if plane.size == 0:
                    outs.append(b"")
                    ws.append(0)
                    hs.append(0)
                    continue
                th = max(1, round(plane.shape[0] * min(1, max_side / max(plane.shape))))
                tw = max(1, round(plane.shape[1] * min(1, max_side / max(plane.shape))))
                ri = (np.arange(th) * plane.shape[0] // th)[:, None]
                ci = (np.arange(tw) * plane.shape[1] // tw)[None, :]
                outs.append(plane[ri, ci].tobytes())
                ws.append(tw)
                hs.append(th)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "thumb": outs,
                    "thumb_w": np.array(ws, dtype=np.int32),
                    "thumb_h": np.array(hs, dtype=np.int32),
                }
            )

    # spread: the per-row decode is the heavy map stage (spread.py)
    return spread(media.select("media_id", "payload", "width", "height")).mapInPandas(
        fn, schema=THUMB_SCHEMA
    )


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame sampling for video rows: pure column math on (n_frames) —
    emits (media_id, frame_no) rows via sequence+explode, ready for a
    decode stage downstream."""
    return media.select(
        "media_id",
        F.explode(
            F.expr(
                f"CASE WHEN n_frames > 0 THEN sequence(0, n_frames - 1, {every_n}) "
                f"ELSE array() END"
            )
        ).alias("frame_no"),
    )


def synthetic_media(spark, n_rows: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests/benches."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_rows):
        w, h = int(rng.integers(4, 64)), int(rng.integers(4, 64))
        payload = rng.integers(0, 256, size=int(rng.integers(16, 256)), dtype=np.uint8).tobytes()
        rows.append((i, payload, "image/fake", w, h, int(rng.integers(0, 120))))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
