"""Multimodal column handling: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas stages.

No reference counterpart — engine extras. Decode support is two-tier:
formats parseable with numpy/stdlib alone (PPM/PGM images, uncompressed
24-bit BMP, PCM WAV) decode for REAL in ``decode_media``; compressed
formats (JPEG/PNG/MP3/MP4) raise NotImplementedError naming the library
they'd need (PIL/librosa/pyav — not in this container). The Spark-side
plumbing — schema, batch shape, partitioning, UDF signatures — is
identical for both tiers.

Scale notes: binary payloads ride in parquet BinaryType; mapInPandas
streams Arrow batches so a 100 MB image row never materializes the whole
partition; repartition before decode controls per-task memory.
"""

from __future__ import annotations

import struct
import wave
from collections.abc import Iterator
from io import BytesIO

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def attach_binary_payload(df: DataFrame, id_col: str, text_col: str, media_type: str = "image") -> DataFrame:
    """Build a multimodal frame from a text fixture: payload =
    utf-8 bytes of the text standing in for encoded media, plus typed
    metadata (size / mime / md5 checksum). The schema is the engine's
    multimodal contract."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(media_type).alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.lit(f"application/x-{media_type}").alias("mime"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


# --- real decoders (numpy/stdlib only) ---------------------------------------
def _decode_pnm(payload: bytes) -> np.ndarray:
    """PPM (P6/P3) and PGM (P5/P2): header tokens (with # comments), then
    raw or ascii samples. Returns (h, w) or (h, w, 3) uint8/uint16."""
    magic = payload[:2]
    binary = magic in (b"P5", b"P6")
    channels = 3 if magic in (b"P3", b"P6") else 1
    # tokenize header: magic, width, height, maxval
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = tokens
    dtype = np.uint8 if maxval < 256 else np.dtype(">u2")
    if binary:
        arr = np.frombuffer(payload, dtype=dtype, count=w * h * channels, offset=i)
    else:
        arr = np.array(payload[i:].split(), dtype=dtype)[: w * h * channels]
    return arr.reshape((h, w, 3) if channels == 3 else (h, w))


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP. Returns (h, w, 3) uint8 in RGB,
    top-down row order regardless of the file's bottom-up storage."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB BMP decoded here (got {bpp}bpp comp={comp})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[..., ::-1]  # BGR -> RGB
    return img[::-1] if bottom_up else img


def _decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV via the stdlib wave module. Returns (samples[n, ch], rate)."""
    with wave.open(BytesIO(payload), "rb") as wf:
        n, ch, width, rate = wf.getnframes(), wf.getnchannels(), wf.getsampwidth(), wf.getframerate()
        raw = wf.readframes(n)
    dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}.get(width)
    if dtype is None:
        raise NotImplementedError(f"{width * 8}-bit PCM not handled")
    return np.frombuffer(raw, dtype=dtype).reshape(-1, ch), rate


def _decode_real(payload: bytes, media_type: str) -> dict:
    """Dispatch on magic bytes, then VERIFY the declared ``media_type``
    metadata agrees with what the bytes actually are (mismatched typed
    metadata is a corruption signal, not something to decode through).
    Formats needing only numpy/stdlib decode for real; compressed codecs
    raise naming the library they'd need."""

    def _checked(kind: str, out: dict) -> dict:
        declared = (media_type or "").split("/")[0]
        if declared and declared != kind:
            raise ValueError(
                f"media_type declares {media_type!r} but payload decodes as {kind}"
            )
        return out

    b = bytes(payload)
    if b[:2] in (b"P2", b"P3", b"P5", b"P6"):
        arr = _decode_pnm(b)
        return _checked("image", {"kind": "image", "array": arr, "rate": None})
    if b[:2] == b"BM":
        return _checked("image", {"kind": "image", "array": _decode_bmp(b), "rate": None})
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        samples, rate = _decode_wav(b)
        return _checked("audio", {"kind": "audio", "array": samples, "rate": rate})
    if b[:3] == b"\xff\xd8\xff" or b[:8] == b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError("JPEG/PNG decode requires PIL (not in this container)")
    raise NotImplementedError(
        "unrecognized media payload; compressed codecs require PIL/librosa/pyav "
        "(not in this container)"
    )


def decode_features(df: DataFrame, fake: bool = True, batch_size_hint: int | None = None) -> DataFrame:
    """Decode / feature-extract stage over binary payloads.

    fake=True (default here) computes deterministic stand-in features
    (n_bytes, first_byte, byte_sum over the first 64 bytes) so the
    pipeline shape is testable end-to-end; fake=False raises
    NotImplementedError from the decode stub.

    Output: (doc_id, media_type, n_bytes, first_byte, byte_sum64).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                for _, row in pdf.iterrows():
                    _decode_real(row["payload"], row["media_type"])
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(len),
                    "first_byte": payloads.map(lambda b: b[0] if len(b) else -1),
                    "byte_sum64": payloads.map(lambda b: int(sum(b[:64]))),
                }
            )

    src = df.repartition(batch_size_hint) if batch_size_hint else df
    return src.mapInPandas(
        extract,
        schema="doc_id long, media_type string, n_bytes long, first_byte int, byte_sum64 long",
    )


def decode_media(df: DataFrame) -> DataFrame:
    """REAL decode stage over an attach_binary_payload frame: parse each payload
    with the numpy/stdlib decoders and emit typed media facts. Payloads in
    formats needing external codecs come back as kind='unsupported'
    rather than failing the job (per-row tolerance, the SkipBadRecords
    posture). Arrow-batched mapInPandas — same topology as the fake path,
    so swapping PIL in later changes zero Spark-side code.

    Output: (doc_id, media_type, kind, width, height, channels,
    n_samples, sample_rate, mean).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "media_type", "kind", "width", "height",
                "channels", "n_samples", "sample_rate", "mean",
            )}
            for doc_id, mt, payload in zip(pdf["doc_id"], pdf["media_type"], pdf["payload"]):
                out["doc_id"].append(doc_id)
                out["media_type"].append(mt)
                try:
                    d = _decode_real(payload, mt)
                except (NotImplementedError, ValueError):
                    out["kind"].append("unsupported")
                    for k in ("width", "height", "channels", "n_samples", "sample_rate", "mean"):
                        out[k].append(None)
                    continue
                arr = d["array"]
                out["kind"].append(d["kind"])
                out["mean"].append(float(arr.astype("float64").mean()) if arr.size else None)
                if d["kind"] == "image":
                    out["width"].append(int(arr.shape[1]))
                    out["height"].append(int(arr.shape[0]))
                    out["channels"].append(int(arr.shape[2]) if arr.ndim == 3 else 1)
                    out["n_samples"].append(None)
                    out["sample_rate"].append(None)
                else:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["channels"].append(int(arr.shape[1]))
                    out["n_samples"].append(int(arr.shape[0]))
                    out["sample_rate"].append(int(d["rate"]))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run,
        schema=(
            "doc_id long, media_type string, kind string, width int, height int, "
            "channels int, n_samples long, sample_rate int, mean double"
        ),
    )


# --- deterministic synthetic payloads (tests / demos) ------------------------
def synth_ppm(w: int, h: int, seed: int = 0) -> bytes:
    px = (np.arange(w * h * 3, dtype=np.int64) * 31 + seed * 7) % 256
    return f"P6\n{w} {h}\n255\n".encode() + px.astype(np.uint8).tobytes()


def synth_wav(n: int, rate: int = 8000, seed: int = 0) -> bytes:
    samples = ((np.arange(n, dtype=np.int64) * 997 + seed) % 20001 - 10000).astype("<i2")
    buf = BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples.tobytes())
    return buf.getvalue()
