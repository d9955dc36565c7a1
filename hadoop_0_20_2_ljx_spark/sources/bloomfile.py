"""BloomMapFile wire compat: the ``bloom`` sidecar file of a MapFile dir.

Reference: io/BloomMapFile.java:47 (BLOOM_FILE_NAME, HASH_COUNT=5,
vectorSize formula :154), util/bloom/Filter.java:192 (header: int
VERSION=-1, int nbHash, byte hashType, int vectorSize — big-endian),
util/bloom/DynamicBloomFilter.java:243 (header + int nr, int
currentNbRecord, int matrixLength, then each row), util/bloom/
BloomFilter.java:195 (header + LSB-first packed bit bytes),
util/bloom/HashFunction.java:109 (k chained hashes: initval_i =
jenkins(key, initval_{i-1}); position_i = |initval_i| % vectorSize),
util/hash/JenkinsHash.java (Bob Jenkins' public-domain lookup3
"hashlittle", consumed byte-by-byte little-endian).

Key bytes are the serialized Writable key — for Text keys a
WritableUtils VInt length prefix + UTF-8 (io/Text.java write()).

Deviation, documented: the 0.20 writer/reader pass the DataOutputBuffer's
whole BACKING ARRAY to the hash (BloomMapFile.java:166), so positions
depend on stale capacity bytes — the historical false-negative bug that
later Hadoop fixed by hashing exactly getLength() bytes. This module
implements the corrected exact-bytes semantics: files agree with the
reference whenever key serializations are fixed-length (where the 0.20
code is itself consistent) and with every fixed reader everywhere.

Scale: the bloom build reuses the collect-free per-partition-bitmap +
treeReduce OR pattern of functions/bloom.py; Jenkins runs Python-side
(Arrow-batched) because wire compat fixes the hash — the engine's own
scale path for blooms stays the JVM md5 expression family.
"""

from __future__ import annotations

import io
import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.functions.recordio import _write_wvlong

BLOOM_FILE_NAME = "bloom"
HASH_COUNT = 5  # io/BloomMapFile.java:48
VERSION = -1  # util/bloom/Filter.java:77
JENKINS_HASH = 0  # util/hash/Hash.java:30

_M32 = 0xFFFFFFFF


def _rot(x: int, k: int) -> int:
    return ((x << k) | (x >> (32 - k))) & _M32


def jenkins_hash(key: bytes, initval: int = 0) -> int:
    """lookup3 hashlittle over bytes (little-endian word assembly), as the
    reference's JenkinsHash.hash(byte[], nbytes, initval). Returns a
    SIGNED 32-bit int (Java int semantics)."""
    length = len(key)
    a = b = c = (0xDEADBEEF + length + initval) & _M32
    offset = 0
    while length > 12:
        a = (a + int.from_bytes(key[offset : offset + 4], "little")) & _M32
        b = (b + int.from_bytes(key[offset + 4 : offset + 8], "little")) & _M32
        c = (c + int.from_bytes(key[offset + 8 : offset + 12], "little")) & _M32
        # mix()
        a = (a - c) & _M32; a ^= _rot(c, 4); c = (c + b) & _M32
        b = (b - a) & _M32; b ^= _rot(a, 6); a = (a + c) & _M32
        c = (c - b) & _M32; c ^= _rot(b, 8); b = (b + a) & _M32
        a = (a - c) & _M32; a ^= _rot(c, 16); c = (c + b) & _M32
        b = (b - a) & _M32; b ^= _rot(a, 19); a = (a + c) & _M32
        c = (c - b) & _M32; c ^= _rot(b, 4); b = (b + a) & _M32
        offset += 12
        length -= 12
    tail = key[offset:]
    if not tail:
        return c - (1 << 32) if c >= (1 << 31) else c
    # the last-block switch adds byte j at shift 8*(j%4) — i.e. the
    # little-endian value of whatever bytes exist in each word
    a = (a + int.from_bytes(tail[0:4], "little")) & _M32
    b = (b + int.from_bytes(tail[4:8], "little")) & _M32
    c = (c + int.from_bytes(tail[8:12], "little")) & _M32
    # final()
    c ^= b; c = (c - _rot(b, 14)) & _M32
    a ^= c; a = (a - _rot(c, 11)) & _M32
    b ^= a; b = (b - _rot(a, 25)) & _M32
    c ^= b; c = (c - _rot(b, 16)) & _M32
    a ^= c; a = (a - _rot(c, 4)) & _M32
    b ^= a; b = (b - _rot(a, 14)) & _M32
    c ^= b; c = (c - _rot(b, 24)) & _M32
    return c - (1 << 32) if c >= (1 << 31) else c


def bloom_positions(key: bytes, nb_hash: int, vector_size: int) -> list[int]:
    """HashFunction.hash (HashFunction.java:104-117): chained initvals,
    |signed hash| % maxValue per round."""
    out = []
    initval = 0
    for _ in range(nb_hash):
        initval = jenkins_hash(key, initval)
        out.append(abs(initval) % vector_size)
    return out


def text_key_bytes(s: str) -> bytes:
    """Text.write wire form: WritableUtils VInt byte-length + UTF-8."""
    b = s.encode("utf-8")
    buf = io.BytesIO()
    _write_wvlong(buf, len(b))
    buf.write(b)
    return buf.getvalue()


def vector_size_for(num_keys: int, error_rate: float = 0.005) -> int:
    """BloomMapFile.initBloomFilter's sizing (BloomMapFile.java:154)."""
    return int(
        math.ceil(
            (-HASH_COUNT * num_keys)
            / math.log(1.0 - math.pow(error_rate, 1.0 / HASH_COUNT))
        )
    )


def _write_filter_header(out: io.BytesIO, nb_hash: int, vector_size: int) -> None:
    out.write(struct.pack(">iibi", VERSION, nb_hash, JENKINS_HASH, vector_size))


def _read_filter_header(buf: io.BytesIO) -> tuple[int, int]:
    ver, nb_hash, hash_type, vector_size = struct.unpack(">iibi", buf.read(13))
    if ver != VERSION:
        raise IOError(f"unsupported bloom Filter version {ver}")
    if hash_type != JENKINS_HASH:
        raise IOError(f"unsupported hashType {hash_type} (only jenkins=0)")
    return nb_hash, vector_size


def serialize_dynamic_bloom(
    rows: list[np.ndarray],
    nb_hash: int,
    vector_size: int,
    nr: int,
    current_nb_record: int,
) -> bytes:
    """DynamicBloomFilter.write (DynamicBloomFilter.java:243-250): header,
    nr, currentNbRecord, matrix length, then each BloomFilter row — bit
    bytes packed LSB-first (BloomFilter.java:195-211, bitvalues 0x01..0x80)."""
    out = io.BytesIO()
    _write_filter_header(out, nb_hash, vector_size)
    out.write(struct.pack(">iii", nr, current_nb_record, len(rows)))
    for bits in rows:
        if bits.size != vector_size:
            raise ValueError("row size != vectorSize")
        _write_filter_header(out, nb_hash, vector_size)
        out.write(np.packbits(bits.astype(bool), bitorder="little").tobytes())
    return out.getvalue()


def parse_dynamic_bloom(data: bytes):
    """Inverse of serialize_dynamic_bloom. Returns (rows, nb_hash,
    vector_size, nr, current_nb_record)."""
    buf = io.BytesIO(data)
    nb_hash, vector_size = _read_filter_header(buf)
    nr, current_nb, n_rows = struct.unpack(">iii", buf.read(12))
    n_bytes = (vector_size + 7) // 8
    rows = []
    for _ in range(n_rows):
        rnb, rvs = _read_filter_header(buf)
        if (rnb, rvs) != (nb_hash, vector_size):
            raise IOError("matrix row header mismatch")
        raw = buf.read(n_bytes)
        rows.append(
            np.unpackbits(np.frombuffer(raw, dtype=np.uint8), bitorder="little")[
                :vector_size
            ].astype(bool)
        )
    return rows, nb_hash, vector_size, nr, current_nb


def write_bloom_map_file(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    num_keys: int = 1024 * 1024,
    error_rate: float = 0.005,
) -> None:
    """MapFile dir + reference-format ``bloom`` sidecar over the Text keys.

    The data file is the sorted SequenceFile (sequencefile.write_map_file);
    the bloom is built distributed: per-partition Arrow batches hash their
    keys (Jenkins, Python-side — the wire format fixes the hash) into a
    local packed bitmap, OR-merged executor-side via treeReduce. Driver
    traffic is O(vectorSize/8) bytes, never key rows. Matrix rows grow
    per ``nr`` keys exactly as DynamicBloomFilter.addKey — here each row
    covers a deterministic hash bucket of keys (retry-safe; any row
    layout satisfies the reader, which ORs membership across rows)."""
    from hadoop_0_20_2_ljx_spark.sources.sequencefile import write_map_file

    import pyarrow as pa

    write_map_file(df, path, key_col, value_col)
    n = df.count()
    n_rows = max(1, -(-n // num_keys))
    vector_size = vector_size_for(num_keys, error_rate)

    def _part_bitmaps(batches):
        mats = np.zeros((n_rows, (vector_size + 7) // 8), dtype=np.uint8)
        for batch in batches:
            for s in batch.column(0).to_pylist():
                kb = text_key_bytes(str(s))
                row = (
                    abs(jenkins_hash(kb, 0x5F375A86)) % n_rows if n_rows > 1 else 0
                )
                bits = np.zeros(vector_size, dtype=bool)
                bits[bloom_positions(kb, HASH_COUNT, vector_size)] = True
                mats[row] |= np.packbits(bits, bitorder="little")
        yield pa.RecordBatch.from_arrays(
            [pa.array([mats.tobytes()], type=pa.binary())], ["m"]
        )

    partials = (
        df.select(F.col(key_col).cast("string").alias("k"))
        .mapInArrow(_part_bitmaps, "m binary")
        .rdd.map(lambda r: np.frombuffer(r[0], dtype=np.uint8).copy())
    )
    try:
        merged = partials.treeReduce(np.bitwise_or)
    except ValueError:
        merged = np.zeros(n_rows * ((vector_size + 7) // 8), dtype=np.uint8)
    mats = merged.reshape(n_rows, -1)
    rows = [
        np.unpackbits(mats[i], bitorder="little")[:vector_size].astype(bool)
        for i in range(n_rows)
    ]
    blob = serialize_dynamic_bloom(
        rows, HASH_COUNT, vector_size, num_keys, min(n, num_keys)
    )
    with open(os.path.join(path, BLOOM_FILE_NAME), "wb") as f:
        f.write(blob)


def read_bloom_file(path: str):
    """Parse a MapFile dir's ``bloom`` sidecar (ours or the reference's)."""
    with open(os.path.join(path, BLOOM_FILE_NAME), "rb") as f:
        return parse_dynamic_bloom(f.read())


def bloom_prefilter_keys(
    spark_df: DataFrame, path: str, key_col: str
) -> DataFrame:
    """Drop rows whose Text key the MapFile's bloom says is absent — the
    Reader.get fast-reject (BloomMapFile.java:218: probablyHasKey before
    the index seek), as a DataFrame filter. Arrow-batched; the parsed
    matrix is broadcast once."""
    from pyspark.sql.functions import pandas_udf

    rows, nb_hash, vector_size, _nr, _cur = read_bloom_file(path)
    bc = spark_df.sparkSession.sparkContext.broadcast(
        (np.array(rows), nb_hash, vector_size)
    )

    @pandas_udf("boolean")
    def probably_has(keys: pd.Series) -> pd.Series:
        mat, k, m = bc.value
        out = []
        for s in keys:
            pos = bloom_positions(text_key_bytes(str(s)), k, m)
            out.append(bool(mat[:, pos].all(axis=1).any()))
        return pd.Series(out)

    return spark_df.filter(probably_has(F.col(key_col).cast("string")))
