"""Multimodal plumbing: schema contract, stubbed decode behavior, the
numpy/stdlib decoders."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.extensions import multimodal
from tests.conftest import SF_SMOKE


def synth_bmp(w: int, h: int, seed: int = 0) -> bytes:
    """Uncompressed 24-bit BMP with deterministic pixels."""
    stride = (w * 3 + 3) & ~3
    img = ((np.arange(h * w * 3, dtype=np.int64) * 17 + seed) % 256).astype(np.uint8)
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, : w * 3] = img.reshape(h, w * 3)
    pixel_bytes = padded[::-1].tobytes()  # bottom-up storage
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_bytes), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0)
    return header + dib + pixel_bytes


def _media(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents").limit(20)
    return multimodal.attach_binary_payload(docs, "doc_id", "text")


def test_media_schema_contract(spark):
    m = _media(spark)
    assert dict(m.dtypes) == {
        "doc_id": "bigint",
        "media_type": "string",
        "payload": "binary",
        "meta": "struct<n_bytes:bigint,mime:string,checksum:string>",
    }
    row = m.filter(F.col("doc_id") == 0).collect()[0]
    assert row.meta.n_bytes == len(row.payload)


def test_decode_stub_raises_without_fake(spark):
    m = _media(spark)
    with pytest.raises(PythonException, match="NotImplementedError"):
        multimodal.decode_features(m, fake=False).collect()


def test_fake_decode_features(spark):
    m = _media(spark)
    feats = {r.doc_id: r for r in multimodal.decode_features(m, fake=True).collect()}
    src = {r.doc_id: r.text for r in catalog.load(spark, SF_SMOKE, "documents").limit(20).collect()}
    for doc_id, text in src.items():
        b = text.encode()
        assert feats[doc_id].n_bytes == len(b)
        assert feats[doc_id].first_byte == b[0]
        assert feats[doc_id].byte_sum64 == sum(b[:64])


# --- real decoders (numpy/stdlib tier) ---------------------------------------
def test_decode_pnm_known_pixels():
    payload = b"P6\n# comment\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    arr = multimodal._decode_pnm(payload)
    assert arr.shape == (1, 2, 3)
    assert arr.tolist() == [[[10, 20, 30], [40, 50, 60]]]
    g = multimodal._decode_pnm(b"P2\n2 2\n255\n1 2\n3 4\n")
    assert g.tolist() == [[1, 2], [3, 4]]
    assert np.issubdtype(g.dtype, np.integer)


def test_decode_bmp_known_pixels():
    # 1x1 24-bit BMP, pixel stored B,G,R = 1,2,3 -> RGB (3,2,1)
    pixel = bytes([1, 2, 3, 0])  # stride padded to 4
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, len(pixel), 0, 0, 0, 0)
    arr = multimodal._decode_bmp(header + dib + pixel)
    assert arr.shape == (1, 1, 3)
    assert arr[0, 0].tolist() == [3, 2, 1]


def test_synth_roundtrips():
    arr = multimodal._decode_pnm(multimodal.synth_ppm(8, 4, seed=3))
    assert arr.shape == (4, 8, 3)
    img = multimodal._decode_bmp(synth_bmp(5, 3, seed=1))
    assert img.shape == (3, 5, 3)
    samples, rate = multimodal._decode_wav(multimodal.synth_wav(100, rate=8000))
    assert samples.shape == (100, 1)
    assert rate == 8000


def test_decode_media_mixed_formats(spark):
    rows = [
        (1, "image", bytearray(multimodal.synth_ppm(6, 2))),
        (2, "image", bytearray(synth_bmp(4, 4))),
        (3, "audio", bytearray(multimodal.synth_wav(50, rate=16000))),
        (4, "image", bytearray(b"\x89PNG\r\n\x1a\nnotreally")),
        (5, "video", bytearray(b"random junk payload")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media_type string, payload binary")
    got = {r.doc_id: r for r in multimodal.decode_media(df).collect()}
    assert got[1].kind == "image" and (got[1].width, got[1].height, got[1].channels) == (6, 2, 3)
    assert got[2].kind == "image" and (got[2].width, got[2].height) == (4, 4)
    assert got[3].kind == "audio" and got[3].n_samples == 50 and got[3].sample_rate == 16000
    assert got[4].kind == "unsupported" and got[4].width is None
    assert got[5].kind == "unsupported"
    assert got[1].mean is not None
