"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (SURVEY §7.8 extension surface).

Design for 100 TB: binaries ride as ``binary`` columns in Parquet
(page-compressed, column-pruned away unless selected); decode /
feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages — the one place this engine legitimately crosses
into Python, because codec work is per-cell CPU-bound and has no
Catalyst expression form. Batch size rides
``spark.sql.execution.arrow.maxRecordsPerBatch``; partitioning is
whatever the upstream frame had (no shuffle is introduced).

The actual codecs (PIL/ffmpeg/librosa) are NOT in this container, so
:func:`decode_image_meta` self-gates on importability: its
``use_real_decoder`` defaults to ``None`` = auto — each task probes for
PIL INSIDE the kernel (executors need not match the driver's
environment) and upgrades itself to the real decoder when present,
else falls back to a deterministic fake derived from the md5 of the
bytes. ``True`` forces the real codec (``NotImplementedError`` where it
is missing), ``False`` pins the fake — the fake stays the DuckDB-oracle
surface either way. :func:`frame_sample` and :func:`embed_binary` run
their md5 fakes unless a ``decoder`` is injected; ``pil_module`` /
``decoder`` allow dependency injection (cloudpickle ships test doubles
by value into workers).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("format", T.StringType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_hash", T.LongType()),
    ]
)


def attach_binary(df: DataFrame) -> DataFrame:
    """Test/demo helper: materialize an opaque binary column (UTF-8
    bytes of a text column). Real pipelines read binary straight from
    Parquet/object storage.

    Fixed columns: output ``content``, text ``text``."""
    return df.withColumn("content", F.encode(F.col("text"), "UTF-8"))


def _clean_cells(ids, blobs):
    """Shared NULL policy of the three kernels: rows with a NULL id are
    DROPPED (an un-addressable row cannot be reported), and the pair
    list carries content as-is (None preserved — each kernel decides
    its NULL-content output: NULL metadata, no frames, NULL embedding;
    substituting a sentinel like b"" would give every missing blob the
    SAME fake features and hand the downstream similarity self-joins a
    quadratic degenerate cluster)."""
    return [
        (int(i), None if b is None else bytes(b))
        for i, b in zip(ids, blobs)
        if i is not None and not pd.isna(i)
    ]


def _fake_dims(content: bytes) -> tuple[int, int]:
    """Deterministic stand-in for a decoded image's dimensions: derived
    from the md5 of the bytes (cross-engine reproducible)."""
    h = int(hashlib.md5(content).hexdigest()[:15], 16)
    return 16 + h % 4096, 16 + (h // 4096) % 4096


def _try_import_pil():
    """Worker-side codec probe. Returns the PIL.Image module or None."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def decode_image_meta(
    df: DataFrame,
    use_real_decoder: bool | None = None,
    pil_module=None,
) -> DataFrame:
    """Binary -> (id, n_bytes, width, height, format) via Arrow-batched
    mapInPandas.

    ``use_real_decoder=None`` (default): auto — probe for PIL inside
    the kernel and decode for real when it imports, else emit the
    deterministic fake. ``True``: require PIL (NotImplementedError if
    absent). ``False``: always fake (the oracle surface).
    ``pil_module`` overrides the probe (test injection).

    Per-row robustness: in auto/real mode, any cell PIL cannot decode
    (corrupt or non-image bytes — a certainty in a 100 TB crawl) falls
    back to the deterministic fake for THAT ROW with
    ``format='fake/deterministic'`` instead of failing the task; a
    poisoned cell must never cost a 10k-row Arrow batch or the job.

    Fixed columns: content ``content``, id ``id``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        image_mod = pil_module if pil_module is not None else _try_import_pil()
        if use_real_decoder and image_mod is None:
            raise NotImplementedError(
                "image codec not available in this environment"
            )
        decode_real = image_mod is not None and use_real_decoder is not False
        import io  # noqa: PLC0415

        def one(b: bytes) -> tuple[int, int, str]:
            if decode_real:
                try:
                    img = image_mod.open(io.BytesIO(b))
                    return img.size[0], img.size[1], str(img.format or "unknown").lower()
                except Exception:  # noqa: BLE001 — PIL raises a zoo of codec errors
                    pass
            w, h = _fake_dims(b)
            return w, h, "fake/deterministic"

        for pdf in batches:
            # NULL cells are routine in a crawl table — bytes(None)
            # would raise and cost the whole Arrow batch, the exact
            # failure the per-row robustness contract forbids. A NULL
            # blob reports NULL metadata (n_bytes 0), NOT fake dims —
            # a sentinel would cluster every missing image together
            cells = _clean_cells(pdf["id"], pdf["content"])
            rows = [
                (None, None, "null/missing") if b is None else one(b)
                for _, b in cells
            ]
            yield pd.DataFrame(
                {
                    "id": pd.array(
                        [i for i, _ in cells], dtype="int64"
                    ),
                    "n_bytes": [0 if b is None else len(b) for _, b in cells],
                    "width": pd.array(
                        [w for w, _, _ in rows], dtype="Int64"
                    ),
                    "height": pd.array(
                        [h for _, h, _ in rows], dtype="Int64"
                    ),
                    "format": [f for _, _, f in rows],
                }
            )

    return df.select(F.col("id"), F.col("content")).mapInPandas(
        kernel, IMAGE_META_SCHEMA
    )


def frame_sample(df: DataFrame, decoder=None) -> DataFrame:
    """Video frame sampling: emits one row per sampled 'frame'. The
    default kernel chunks at a byte stride (deterministic, the oracle
    surface) — it demonstrates the 1-to-N mapInPandas shape a real
    ffmpeg-based sampler has. ``decoder`` injects a real sampler:
    ``decoder(bytes) -> list[(frame_idx, frame_hash)]`` (no video
    codec ships in this environment to auto-probe for).

    Fixed columns: content ``content``, id ``id``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            if decoder is not None:
                for vid, b in _clean_cells(pdf["id"], pdf["content"]):
                    if b is None:
                        continue  # a missing video samples no frames
                    for idx, fh in decoder(b):
                        ids.append(int(vid))
                        idxs.append(int(idx))
                        hashes.append(int(fh))
                yield pd.DataFrame(
                    {"id": ids, "frame_idx": idxs, "frame_hash": hashes}
                )
                continue
            for vid, b in _clean_cells(pdf["id"], pdf["content"]):
                if b is None:
                    continue  # a missing video samples no frames
                data = b
                for i, off in enumerate(range(0, max(len(data), 1), 64)):
                    chunk = data[off : off + 64]
                    ids.append(int(vid))
                    idxs.append(i)
                    hashes.append(int(hashlib.md5(chunk).hexdigest()[:15], 16))
            yield pd.DataFrame({"id": ids, "frame_idx": idxs, "frame_hash": hashes})

    return df.select(F.col("id"), F.col("content")).mapInPandas(
        kernel, FRAME_SCHEMA
    )


def embed_binary(df: DataFrame, dims: int = 8, decoder=None) -> DataFrame:
    """Feature extraction: binary -> float vector. Default kernel is an
    md5-seeded deterministic fake (the oracle surface); ``decoder``
    injects a real model: ``decoder(bytes) -> list[float]`` of length
    ``dims`` (no model runtime ships in this environment to auto-probe
    for). Output feeds the similarity operators
    (operators/similarity.py).

    Fixed columns: content ``content``, id ``id``."""
    if decoder is None and not 1 <= dims <= 16:
        raise ValueError(
            f"the fake kernel draws from a 16-byte md5 digest: dims must "
            f"be in [1, 16], got {dims} (inject a real decoder for wider "
            "vectors)"
        )
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cells = _clean_cells(pdf["id"], pdf["content"])
            vecs = []
            for _, b in cells:
                if b is None:
                    # NULL embedding, NOT a digest of b"": a shared
                    # sentinel vector would make every missing blob
                    # pairwise-identical and blow up the downstream
                    # similarity self-joins quadratically
                    vecs.append(None)
                    continue
                if decoder is not None:
                    vecs.append([float(v) for v in decoder(b)])
                    continue
                digest = hashlib.md5(b).digest()
                vecs.append([digest[i] / 255.0 - 0.5 for i in range(dims)])
            yield pd.DataFrame(
                {
                    "id": pd.array([i for i, _ in cells], dtype="int64"),
                    # object dtype is load-bearing: a batch whose
                    # embeddings are all None would otherwise infer
                    # float64 (NaN) and Arrow cannot convert a float64
                    # ndarray to list<float>
                    "embedding": pd.Series(vecs, dtype="object"),
                }
            )

    return df.select(F.col("id"), F.col("content")).mapInPandas(kernel, out_schema)
