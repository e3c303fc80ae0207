"""Multimodal columns: opaque binary payloads + typed metadata.

The feature kernel is a deterministic stand-in decode: the first 64
payload bytes of each row become an 8x8 pseudo-pixel tile, and
``extract_features`` reduces each tile to 8 per-column means. That
keeps the Spark-side plumbing real and tested — schema, Arrow batch
shapes, zero-copy binary buffers, vectorized batch math, partition
sizing — and gives a SQL oracle something it can recompute from the
same bytes.

The one swap point is ``_tile_matrix``'s byte gather: a native image
decoder plugs in there, returning an (n, 64) tile per batch, and the
batch shape and everything downstream stay as they are.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),      # image | audio | video
    T.StructField("mime", T.StringType()),
    T.StructField("payload", T.BinaryType()),   # opaque encoded bytes
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("feat", T.ArrayType(T.FloatType())),
    T.StructField("n_bytes", T.IntegerType()),
])

TILE = 8  # stand-in "decoded image" is an 8x8 byte tile


def _decode_image_stub(payload: bytes, deterministic_fake: bool = True
                       ) -> np.ndarray:
    """Single-payload reference decode (what the vectorized kernel
    computes per row): real impl would be
    ``PIL.Image.open(BytesIO(payload))``. Kept as the readable spec +
    the swap point marker for clusters with image libs installed."""
    if not deterministic_fake:
        raise NotImplementedError(
            "image decode requires PIL/libjpeg, not present in this "
            "container; run with deterministic_fake=True for plumbing "
            "tests")
    arr = np.frombuffer(payload[:TILE * TILE].ljust(TILE * TILE, b"\0"),
                        dtype=np.uint8)
    return arr.reshape(TILE, TILE).astype(np.float32)


def _tile_matrix(binary_arr) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized 'decode' of an Arrow binary array: gather the first
    TILE*TILE bytes of every payload (zero-padded) into an (n, 64)
    uint8 matrix straight from the Arrow offsets/data buffers — one
    fancy-index per batch, no per-row Python."""
    n = len(binary_arr)
    bufs = binary_arr.buffers()
    off_dt = np.int64 if binary_arr.type.equals(
        __import__("pyarrow").large_binary()) else np.int32
    offs = np.frombuffer(bufs[1], dtype=off_dt)[
        binary_arr.offset: binary_arr.offset + n + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None \
        else np.zeros(0, dtype=np.uint8)
    lens = np.diff(offs)
    cols = np.arange(TILE * TILE, dtype=np.int64)
    mask = cols[None, :] < lens[:, None]
    mat = np.zeros((n, TILE * TILE), dtype=np.uint8)
    idx = offs[:-1, None] + cols[None, :]
    mat[mask] = data[idx[mask]]
    return mat, lens.astype(np.int32)


def extract_features(df: DataFrame, batch_rows: int = 256,
                     deterministic_fake: bool = True) -> DataFrame:
    """mapInArrow feature extraction over binary media payloads.

    Arrow moves the binary column zero-copy; the kernel gathers each
    batch into an (n, 64) matrix and computes per-tile column means in
    one vectorized pass — feature j = mean over rows of the 8x8 tile
    (identical to ``_decode_image_stub(p).mean(axis=0)`` per row).
    Partition sizing note: media rows are large, so callers should size
    partitions to keep (rows x avg payload) within executor memory —
    the 100 TB knob is partition count, not code."""
    if not deterministic_fake:
        raise NotImplementedError(
            "real decoders are not available in this container")

    def run(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        out_schema = pa.schema([
            ("media_id", pa.int64()),
            ("feat", pa.list_(pa.float32())),
            ("n_bytes", pa.int32()),
        ])
        for batch in batches:
            pay = batch.column("payload").combine_chunks() \
                if hasattr(batch.column("payload"), "combine_chunks") \
                else batch.column("payload")
            mat, lens = _tile_matrix(pay)
            n = len(mat)
            feats = mat.reshape(n, TILE, TILE).astype(np.float32) \
                .mean(axis=1)
            offs = np.arange(0, (n + 1) * TILE, TILE, dtype=np.int32)
            feat_arr = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()),
                pa.array(feats.reshape(-1)))
            yield pa.RecordBatch.from_arrays(
                [batch.column("media_id").cast(pa.int64()), feat_arr,
                 pa.array(lens, type=pa.int32())],
                schema=out_schema)

    return df.select("media_id", "payload").mapInArrow(
        run, schema=FEATURE_SCHEMA)


def media_from_documents(df: DataFrame, id_col: str = "doc_id",
                         content_col: str = "text") -> DataFrame:
    """Derive a deterministic media table from a text corpus: payload =
    UTF-8 bytes of the document. Gives the multimodal plumbing an
    oracle-checkable source — a SQL engine can recompute the stub
    features from the same characters (documents are ASCII, so byte
    positions == character positions)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("text/fake").alias("mime"),
        F.encode(F.col(content_col), "UTF-8").alias("payload"),
        F.lit(TILE).alias("width"), F.lit(TILE).alias("height"),
        F.lit(0).alias("duration_ms"),
    )


def synthetic_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for plumbing tests."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        size = int(rng.integers(100, 4000))
        rows.append((i, "image", "image/fake",
                     bytes(rng.integers(0, 256, size, dtype=np.uint8)),
                     64, 64, 0))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
