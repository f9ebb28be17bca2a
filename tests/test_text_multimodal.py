"""Text-analysis functions + multimodal plumbing."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from dwds_livestream_spark.functions.text import (
    fingerprint,
    language_id,
    quality_score,
    token_stats,
    winnowing_fingerprints,
)
from dwds_livestream_spark.operators.multimodal import (
    resize_images,
    documents_as_assets,
    extract_features,
    frame_sample_plan,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="der hund und die katze und das pferd ist da"),
            Row(doc_id=3, text="a a a a a a a a a a"),
            Row(doc_id=4, text="xyz"),
        ]
    )


def test_token_stats(spark, docs):
    out = {r.doc_id: r for r in token_stats(docs).collect()}
    assert out[1].n_tokens == 9
    assert out[1].n_distinct == 8  # 'the' twice
    assert out[3].distinct_ratio == 0.1
    assert out[4].n_tokens == 1
    assert out[1].mean_token_len == round(35 / 9, 6)


def test_quality_score_repetition_penalty(spark, docs):
    out = {r.doc_id: r for r in quality_score(docs).collect()}
    assert out[1].quality_score > out[3].quality_score  # repetition hurts
    assert not out[4].keep  # too short


def test_language_id(spark, docs):
    out = {r.doc_id: r for r in language_id(docs).collect()}
    assert out[1].pred_lang == "en"
    assert out[2].pred_lang == "de"
    assert out[4].pred_lang == "und"


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="gamma alpha beta")]
    )
    fps = [r.fingerprint for r in fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_winnowing_overlap_detects_shared_run(spark):
    base = "w%d " * 30
    a = (base % tuple(range(30))).strip()
    b = (base % tuple(range(20, 50))).strip()  # shares tokens 20..29
    c = (base % tuple(range(100, 130))).strip()  # disjoint
    df = spark.createDataFrame(
        [Row(doc_id=1, text=a), Row(doc_id=2, text=b), Row(doc_id=3, text=c)]
    )
    fps = winnowing_fingerprints(df, k=5, window=4)
    pairs = (
        fps.alias("x")
        .join(fps.alias("y"), "fp")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy("x.doc_id", "y.doc_id")
        .count()
        .collect()
    )
    overlaps = {(r[0], r[1]): r[2] for r in pairs}
    assert (1, 2) in overlaps  # shared 10-token run -> shared fingerprints
    assert (1, 3) not in overlaps and (2, 3) not in overlaps


def test_round6_exact_half_up_at_the_microunit_tie():
    # the exact case binary-double round() gets wrong: a rational
    # sitting exactly on the x.xxxxxx5 grid must round half-UP on every
    # engine. 1/2e6 = 0.0000005 -> 0.000001 (float round() gives 0.0
    # here because the double below 5e-7 is nearest).
    from dwds_livestream_spark.operators.multimodal import _round6_exact

    assert _round6_exact(1, 2_000_000) == 1e-6
    assert _round6_exact(3, 2_000_000) == 2e-6  # 1.5e-6 -> up
    assert _round6_exact(1, 3) == 0.333333  # plain truncation case
    assert _round6_exact(2, 3) == 0.666667  # rounds up past the grid
    assert _round6_exact(5, 4) == 1.25  # exact value unchanged
    from fractions import Fraction

    for num in range(0, 50):
        for den in range(1, 20):
            micro = Fraction(num, den) * 10**6
            want = (micro + Fraction(1, 2)).__floor__() / 1e6
            assert _round6_exact(num, den) == want, (num, den)


def test_winnowing_md5_variant_matches_python_reference(spark):
    # the oracle-checkable md5_32 variant must implement EXACTLY the
    # Schleimer windowed-minimum selection — verified against a direct
    # Python transcription (k-gram md5 prefixes, 4-window minima,
    # distinct), independent of both Spark and DuckDB
    import hashlib

    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "a b c d e",  # exactly one gram, one window
        3: "too short",  # no grams
        4: "x " * 40,  # all-identical grams
    }
    k, w = 5, 4

    def ref(text):
        toks = [t for t in text.split() if t]
        grams = [
            hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:8]
            for i in range(len(toks) - k + 1)
        ]
        return {
            min(grams[i : i + w]) for i in range(len(grams) - w + 1)
        }

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    got = {}
    for r in winnowing_fingerprints(df, k=k, window=w).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    for i, t in texts.items():
        assert got.get(i, set()) == ref(t), f"doc {i}"


def test_multimodal_features_deterministic(spark):
    assets = spark.createDataFrame(
        [
            Row(asset_id=1, modality="image", payload=bytes(range(256))),
            Row(asset_id=2, modality="image", payload=b"\x00" * 64),
            Row(asset_id=3, modality="text", payload=b"skip me"),
        ]
    )
    out = {r.asset_id: r for r in extract_features(assets, fake=True).collect()}
    assert set(out) == {1, 2}  # non-media modality filtered
    assert out[1].n_bytes == 256
    assert out[1].byte_mean == round(sum(range(256)) / 256, 6)
    assert out[1].byte_entropy == pytest.approx(4.0)  # uniform over 16 buckets
    assert out[2].byte_entropy == 0.0
    assert len(out[1].feature) == 16
    assert math.isclose(sum(out[1].feature), 1.0, rel_tol=1e-4)


try:
    import PIL  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


def _bmp(width: int, height: int, pixel) -> bytes:
    """Hand-crafted 24-bit uncompressed BMP (bottom-up, 4-byte row
    padding) — a real decodable image without needing any image
    library to BUILD the fixture. pixel(x, y) -> (b, g, r)."""
    import struct

    row_size = (3 * width + 3) & ~3
    img_size = row_size * height
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    body = b""
    for y in reversed(range(height)):
        row = b"".join(bytes(pixel(x, y)) for x in range(width))
        body += row + b"\x00" * (row_size - 3 * width)
    return header + dib + body


def _bmp_assets(spark):
    checker = _bmp(16, 16, lambda x, y: (0, 0, 0) if (x + y) % 2 else (255, 255, 255))
    flat = _bmp(8, 8, lambda x, y: (128, 128, 128))
    return spark.createDataFrame(
        [
            Row(asset_id=1, modality="image", payload=checker),
            Row(asset_id=2, modality="image", payload=flat),
        ]
    )


def test_real_and_fake_paths_share_schema(spark):
    """VERDICT r3 #5: both decode paths must produce the same output
    schema. Schema comparison is plan-only, so this runs with or
    without Pillow installed."""
    assets = _bmp_assets(spark)
    assert (
        extract_features(assets, fake=False).schema
        == extract_features(assets, fake=True).schema
    )
    assert (
        resize_images(assets, 4, 4, fake=False).schema
        == resize_images(assets, 4, 4, fake=True).schema
    )


@pytest.mark.skipif(_HAS_PIL, reason="Pillow installed: real decode works")
def test_multimodal_real_decode_gated_without_pillow(spark):
    assets = spark.createDataFrame(
        [Row(asset_id=1, modality="image", payload=b"x")]
    )
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        extract_features(assets, fake=False).collect()


def test_multimodal_real_audio_decode_stays_stubbed(spark):
    assets = spark.createDataFrame(
        [Row(asset_id=1, modality="audio", payload=b"RIFF....WAVE")]
    )
    with pytest.raises(Exception, match="NotImplementedError|audio"):
        extract_features(assets, fake=False).collect()


@pytest.mark.skipif(not _HAS_PIL, reason="Pillow not installed")
def test_multimodal_real_decode_with_pillow(spark):
    """Real Pillow path: luminance stats of known images, and resize
    produces a decodable image at the target dimensions."""
    assets = _bmp_assets(spark)
    out = {
        r.asset_id: r
        for r in extract_features(assets, fake=False).collect()
    }
    assert out[2].byte_mean == pytest.approx(128.0)
    assert out[2].byte_entropy == 0.0  # single luminance bucket
    assert out[1].byte_mean == pytest.approx(127.5, abs=1.0)  # checker
    assert len(out[1].feature) == 16
    assert math.isclose(sum(out[1].feature), 1.0, rel_tol=1e-4)

    resized = {
        r.asset_id: r
        for r in resize_images(assets, 4, 4, fake=False).collect()
    }
    import io

    from PIL import Image

    for r in resized.values():
        img = Image.open(io.BytesIO(bytes(r.payload)))
        assert img.size == (4, 4)
        assert (r.width, r.height) == (4, 4)


def test_documents_as_assets_runs_on_testdata(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    feats = extract_features(documents_as_assets(docs), fake=True)
    row = feats.orderBy("asset_id").first()
    assert row.n_bytes > 0 and 0 < row.byte_entropy <= 4.0


def test_frame_sample_plan(spark):
    assets = spark.createDataFrame(
        [
            Row(asset_id=1, modality="video", duration_ms=3500),
            Row(asset_id=2, modality="image", duration_ms=None),
        ]
    )
    rows = frame_sample_plan(assets, every_ms=1000).collect()
    got = sorted(r.frame_ts_ms for r in rows)
    assert got == [0, 1000, 2000]
    assert all(r.asset_id == 1 for r in rows)


def test_resize_images_byte_grid(spark):
    assets = spark.createDataFrame(
        [
            Row(asset_id=1, modality="image", payload=bytes(range(200))),
            Row(asset_id=2, modality="image", payload=b""),
            Row(asset_id=3, modality="video", payload=b"skip"),
        ]
    )
    out = {r.asset_id: r for r in resize_images(assets, 8, 8).collect()}
    assert set(out) == {1, 2}  # only images resized
    assert all(len(r.payload) == 64 for r in out.values())
    assert (out[1].width, out[1].height) == (8, 8)
    # nearest-neighbor sampling is deterministic and order-preserving
    assert out[1].payload[0] == 0 and out[1].payload[-1] >= out[1].payload[0]
    assert out[2].payload == bytes(64)  # empty payload -> zero canvas
