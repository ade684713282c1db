from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.multimodal import (
    attach_binary,
    decode_image_meta,
    embed_binary,
    frame_sample,
)


@pytest.fixture(scope="module")
def binary_docs(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 200)], ["id", "text"]
    )
    return attach_binary(df)


def test_decode_meta_deterministic(spark, binary_docs):
    out = {r["id"]: r for r in decode_image_meta(binary_docs).collect()}
    assert out[1]["n_bytes"] == 11
    assert out[2]["n_bytes"] == 200
    h = int(hashlib.md5(b"hello world").hexdigest()[:15], 16)
    assert out[1]["width"] == 16 + h % 4096
    assert out[1]["height"] == 16 + (h // 4096) % 4096


def test_decode_real_path_is_marked(spark, binary_docs):
    with pytest.raises(Exception) as exc:
        decode_image_meta(binary_docs, use_real_decoder=True).collect()
    assert "NotImplementedError" in str(exc.value) or "not available" in str(exc.value)


def test_frame_sample_one_to_many(spark, binary_docs):
    out = frame_sample(binary_docs).collect()
    per_id = {}
    for r in out:
        per_id.setdefault(r["id"], []).append(r["frame_idx"])
    assert per_id[1] == [0]           # 11 bytes -> 1 chunk
    assert per_id[2] == [0, 1, 2, 3]  # 200 bytes -> 4 chunks of 64


def test_embed_binary_feeds_similarity(spark, binary_docs):
    from dgraph_dbpedia_spark.operators.similarity import cosine_topk

    emb = embed_binary(binary_docs).withColumnRenamed("id", "vec_id")
    q = emb.where(F.col("vec_id") == 1).select(F.col("embedding").alias("q"))
    out = cosine_topk(emb, q, k=1)
    assert out.collect()[0]["vec_id"] == 1  # self is nearest


def test_arrow_batched_not_row_udf(spark, binary_docs):
    plan = decode_image_meta(binary_docs)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_documents_ascii_invariant(spark):
    """The frame_sample oracle chunks by CHARACTER in DuckDB but the
    kernel chunks by BYTE: equivalent only while the corpus is ASCII.
    Pin the invariant so a corpus change surfaces here, not as a silent
    oracle mismatch."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    non_ascii = docs.where(
        F.octet_length(F.col("text")) != F.length(F.col("text"))
    ).count()
    assert non_ascii == 0


def _fake_pil():
    """Stand-in for PIL.Image: open() parses an 'img:w:h:...' byte
    layout. Built from locals so cloudpickle ships it by VALUE into
    workers (a module-level test class would pickle by reference and
    fail to import there)."""
    import types

    class Img:
        def __init__(self, data: bytes):
            head = data.decode("ascii", "ignore").split(":")
            self.size = (int(head[1]), int(head[2]))
            self.format = "PNG"

    return types.SimpleNamespace(open=lambda fp: Img(fp.read()))


def test_decode_upgrades_itself_with_injected_codec(spark):
    """With a (fake) PIL module injected, the kernel takes the
    real-decoder path: width/height/format come from the codec, not the
    md5 fake — proving the operator self-upgrades where codecs exist."""
    df = spark.createDataFrame(
        [(1, b"img:640:480:junk"), (2, b"img:32:64:junk")], ["id", "content"]
    )
    out = {
        r["id"]: r
        for r in decode_image_meta(df, pil_module=_fake_pil()).collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (640, 480)
    assert (out[2]["width"], out[2]["height"]) == (32, 64)
    assert out[1]["format"] == "png"
    assert out[1]["n_bytes"] == 16


def test_decode_pinned_fake_ignores_codec(spark):
    """use_real_decoder=False must stay on the md5 fake even when a
    codec is available (the oracle surface is pinned)."""
    df = spark.createDataFrame([(1, b"img:640:480:junk")], ["id", "content"])
    out = decode_image_meta(
        df, use_real_decoder=False, pil_module=_fake_pil()
    ).collect()[0]
    h = int(hashlib.md5(b"img:640:480:junk").hexdigest()[:15], 16)
    assert out["width"] == 16 + h % 4096
    assert out["format"] == "fake/deterministic"


def _picky_pil():
    """Fake PIL whose open() raises on anything not starting ``img:`` —
    models real PIL hitting corrupt/non-image bytes mid-batch."""
    import types

    class Img:
        def __init__(self, data: bytes):
            if not data.startswith(b"img:"):
                raise ValueError("cannot identify image file")
            head = data.decode("ascii", "ignore").split(":")
            self.size = (int(head[1]), int(head[2]))
            self.format = "JPEG"

    return types.SimpleNamespace(open=lambda fp: Img(fp.read()))


def test_decode_per_row_fallback_on_corrupt_bytes(spark):
    """A cell the codec rejects falls back to the deterministic fake for
    that row only — the rest of the batch still decodes for real and the
    task does not fail (ADVICE r5: auto-upgrade must not make output
    crash on non-image bytes)."""
    df = spark.createDataFrame(
        [(1, b"img:640:480:ok"), (2, b"not an image at all")], ["id", "content"]
    )
    out = {
        r["id"]: r
        for r in decode_image_meta(df, pil_module=_picky_pil()).collect()
    }
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (640, 480, "jpeg")
    h = int(hashlib.md5(b"not an image at all").hexdigest()[:15], 16)
    assert out[2]["width"] == 16 + h % 4096
    assert out[2]["format"] == "fake/deterministic"


def test_decode_real_pil_when_available(spark):
    """Pins real-PIL output when the environment gains the codec (skips
    cleanly where it is absent): a 1x1 PNG must decode to its true
    dimensions through the auto path, not the md5 fake."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (5, 3)).save(buf, format="PNG")
    df = spark.createDataFrame([(1, buf.getvalue())], ["id", "content"])
    out = decode_image_meta(df).collect()[0]
    assert (out["width"], out["height"], out["format"]) == (5, 3, "png")


def test_frame_sample_and_embed_accept_injected_decoders(spark):
    df = spark.createDataFrame([(7, b"abcdef")], ["id", "content"])
    frames = frame_sample(
        df, decoder=lambda b: [(i, len(b) * 100 + i) for i in range(2)]
    ).collect()
    assert [(r["frame_idx"], r["frame_hash"]) for r in frames] == [
        (0, 600),
        (1, 601),
    ]
    vecs = embed_binary(
        df, dims=3, decoder=lambda b: [float(len(b)), 1.5, -2.0]
    ).collect()
    assert vecs[0]["embedding"] == [6.0, 1.5, -2.0]


def test_null_cells_do_not_fail_batches(spark):
    """NULL content/id cells are routine in a crawl table: no kernel
    may fail the Arrow batch; NULL blobs yield NULL metadata / no
    frames / a NULL embedding (never a shared b'' sentinel that would
    cluster every missing blob together); NULL-id rows are dropped."""
    from dgraph_dbpedia_spark.operators.multimodal import (
        decode_image_meta,
        embed_binary,
        frame_sample,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"real bytes here")), (2, None), (None, b"x")],
        "id long, content binary",
    )
    meta = {r["id"]: r for r in decode_image_meta(df).collect()}
    assert set(meta) == {1, 2}
    assert meta[2]["n_bytes"] == 0 and meta[2]["width"] is None
    assert meta[2]["format"] == "null/missing"
    assert meta[1]["width"] is not None

    emb = {r["id"]: r["embedding"] for r in embed_binary(df).collect()}
    assert emb[2] is None and emb[1] is not None

    frames = frame_sample(df).collect()
    assert {r["id"] for r in frames} == {1}  # NULL blob: no frames
