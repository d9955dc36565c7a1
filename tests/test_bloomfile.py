"""BloomMapFile sidecar wire format (io/BloomMapFile.java:47,
util/bloom/DynamicBloomFilter.java:243, util/hash/JenkinsHash.java)."""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.sources import bloomfile
from tests.conftest import SF_SMOKE


def _member(rows, key: bytes, nb_hash: int, vector_size: int) -> bool:
    """DynamicBloomFilter.membershipTest: any matrix row holds every bit."""
    pos = bloomfile.bloom_positions(key, nb_hash, vector_size)
    return any(all(r[p] for p in pos) for r in rows)


def test_jenkins_known_values():
    """lookup3 fixed points: empty input returns the raw seed constant
    (the case-0 early return, JenkinsHash.java:195 — no final mix), and
    the 32-bit result is Java-int signed."""
    assert bloomfile.jenkins_hash(b"", 0) == int(
        np.int32(np.uint32(0xDEADBEEF))
    )  # 0xdeadbeef as signed = -559038737
    assert bloomfile.jenkins_hash(b"", 0) == -559038737
    # initval shifts the empty-input constant linearly
    assert bloomfile.jenkins_hash(b"", 7) == -559038737 + 7
    # >12-byte input exercises the mix loop; must be deterministic and
    # differ from the tail-only path
    h1 = bloomfile.jenkins_hash(b"Four score and seven years ago", 0)
    h2 = bloomfile.jenkins_hash(b"Four score and seven years ago", 1)
    assert h1 != h2
    assert -(2**31) <= h1 < 2**31
    # avalanche sanity: one flipped bit changes the hash
    assert bloomfile.jenkins_hash(b"abcdefghijklm", 0) != bloomfile.jenkins_hash(
        b"abcdefghijkln", 0
    )


def test_positions_chained_and_bounded():
    pos = bloomfile.bloom_positions(b"key-1", 5, 1000)
    assert len(pos) == 5
    assert all(0 <= p < 1000 for p in pos)
    # chained initvals: prefix lists agree
    assert bloomfile.bloom_positions(b"key-1", 3, 1000) == pos[:3]


def test_dynamic_bloom_serialization_golden_header():
    """Pin the exact header bytes: Filter (VERSION=-1, nbHash, hashType=0
    jenkins, vectorSize) then nr, currentNbRecord, matrix length, then per
    row another Filter header + LSB-first bit bytes."""
    bits = np.zeros(16, dtype=bool)
    bits[0] = bits[9] = True
    blob = bloomfile.serialize_dynamic_bloom([bits], 5, 16, 100, 2)
    expect = (
        struct.pack(">iibi", -1, 5, 0, 16)
        + struct.pack(">iii", 100, 2, 1)
        + struct.pack(">iibi", -1, 5, 0, 16)
        + bytes([0x01, 0x02])  # bit0 -> 0x01 of byte0; bit9 -> 0x02 of byte1
    )
    assert blob == expect
    rows, nb, vs, nr, cur = bloomfile.parse_dynamic_bloom(blob)
    assert (nb, vs, nr, cur) == (5, 16, 100, 2)
    assert rows[0].tolist() == bits.tolist()


def test_write_read_bloom_map_file(spark, tmp_path):
    path = str(tmp_path / "bmf")
    orders = (
        catalog.load(spark, SF_SMOKE, "orders")
        .select(F.col("o_orderkey").cast("string").alias("k"), F.col("o_orderstatus").alias("v"))
        .limit(500)
    )
    bloomfile.write_bloom_map_file(orders, path, "k", "v", num_keys=1000)
    rows, nb, vs, nr, cur = bloomfile.read_bloom_file(path)
    assert nb == bloomfile.HASH_COUNT and nr == 1000
    assert vs == bloomfile.vector_size_for(1000)
    # no false negatives: every written key tests positive
    keys = [r["k"] for r in orders.collect()]
    for k in keys:
        assert _member(
            rows, bloomfile.text_key_bytes(k), nb, vs
        ), k
    # false positives bounded: absent keys mostly rejected
    absent_hits = sum(
        _member(rows, bloomfile.text_key_bytes(f"absent-{i}"), nb, vs)
        for i in range(1000)
    )
    assert absent_hits < 100
    # the MapFile data member is still a readable sorted SequenceFile
    from hadoop_0_20_2_ljx_spark.sources.sequencefile import read_map_file

    back = read_map_file(spark, path)
    assert back.count() == len(keys)


def test_bloom_prefilter_keys(spark, tmp_path):
    path = str(tmp_path / "bmf2")
    present = spark.range(0, 200).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    bloomfile.write_bloom_map_file(present, path, "k", "v", num_keys=500)
    probe = spark.range(0, 400).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    kept = bloomfile.bloom_prefilter_keys(probe, path, "k")
    got = {r["k"] for r in kept.collect()}
    for i in range(200):
        assert f"k{i}" in got  # no false negatives
    assert len(got) < 400  # rejects most absent keys


def test_multi_row_matrix(spark, tmp_path):
    """More keys than nr -> DynamicBloomFilter grows matrix rows; every
    key still found (reader ORs across rows)."""
    path = str(tmp_path / "bmf3")
    df = spark.range(0, 900).select(
        F.concat(F.lit("x"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    bloomfile.write_bloom_map_file(df, path, "k", "v", num_keys=300)
    rows, nb, vs, _nr, _cur = bloomfile.read_bloom_file(path)
    assert len(rows) == 3
    for i in range(0, 900, 37):
        assert _member(
            rows, bloomfile.text_key_bytes(f"x{i}"), nb, vs
        )
