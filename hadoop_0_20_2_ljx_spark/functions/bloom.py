"""Bloom filters: membership pre-filtering.

Reference counterparts:
  - util/bloom/BloomFilter.java
  - BloomMapFile (io/BloomMapFile.java) — MapFile plus a DynamicBloomFilter
    of its keys, consulted before the index seek. Its wire-compatible
    sidecar is sources/bloomfile.py (q_sink_bloommap_roundtrip).

``bloom_prefilter`` is the classic semi-join reducer: build a bloom over
the small side's keys, drop big-side rows that cannot match before the
join shuffle. The build is distributed (bit positions computed JVM-side,
only the <= m distinct set positions ever reach the driver — bounded by
the bitmap size, not the data size); the probe is a pure JVM expression
(element_at + getbit) over the packed-word bitmap carried as a single
array literal — no JVM->Python hop on the big side's scan. Spark's own
runtime bloom join (spark.sql.optimizer.runtime.bloomFilter.enabled)
does this automatically inside one query; this operator is for when the
filter must cross a materialization boundary (build once, apply to many
queries), which Catalyst can't. Parquet's own column blooms (row-group
pruning on point predicates) are a writer option,
``parquet.bloom.filter.enabled#<col>``, not an operator.

Position hashing is xxhash64-derived (engine-internal — no oracle ever
sees bloom bits) and computed JVM-side for both build and probe (one
shared expression), so the two agree by construction. No false negatives
by construction; FP rate ~= (1 - e^(-k*n/m))^k.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _position_parts(
    key: Column, num_hashes: int, m_bits: int, normalize: bool = True
) -> list[Column]:
    """JVM-side bit positions for one key via Kirsch-Mitzenmacher double
    hashing: two seed-separated xxhash64 calls yield (h1, h2),
    position_i = (h1 + i*h2) mod m. The probe side scans the big table,
    so this is the hot expression: a Filter's conjunction does NOT get
    codegen subexpression elimination (each conjunct re-evaluates its
    subtree — measured this round: the md5-derived positions cost 14
    md5+conv evaluations per probed row inside the k-way AND), so the
    base hash must be cheap standalone; xxhash64 is a native codegen'd
    long op, and the bloom's bit pattern is engine-INTERNAL (build and
    probe share this one expression; no DuckDB oracle ever sees it), so
    the portable-md5 discipline does not apply. The key is normalized
    through a string cast so build and probe sides agree even when their
    column types differ (int vs bigint hash differently under a typed
    hash). h2 is reduced mod m then forced odd so the stride never
    degenerates to 0 mod 2^j divisors of m, and i*h2 stays far from long
    overflow (ANSI-safe) because h2 < 2m.

    ``normalize`` controls the cross-type contract: when True the key is
    string-cast first, so any two types rendering equally hash equally;
    when False the key is hashed as its NATIVE type — measured 16x
    cheaper per evaluation (72 vs 1165 ns/row at 1M longs: the string
    cast allocates a UTF8String per eval, and the Filter conjunction
    re-evaluates it k x 2 times) — callers must guarantee build and
    probe columns share a dtype (bloom_prefilter checks and falls back
    to normalize=True on mismatch).

    Forcing h2 odd prevents stride degeneration only for the power-of-2
    divisors of m; m from optimal_params is an arbitrary integer, so h2
    can still share an odd factor with m and shorten the position cycle
    — a marginal FP-quality effect, never a correctness one (the
    downstream exact join owns correctness), accepted over a gcd-aware
    reduction that would cost another op per evaluation."""
    s = key.cast("string") if normalize else key
    h1 = F.pmod(F.xxhash64(s), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(s, F.lit(1)), F.lit(m_bits)) * 2 + 1
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(num_hashes)]


def _positions_expr(
    key: Column, num_hashes: int, m_bits: int, normalize: bool = True
) -> Column:
    """All k bit positions of one key as one array column (build side)."""
    return F.array(*_position_parts(key, num_hashes, m_bits, normalize))


def _bitmap_words(bits: np.ndarray) -> np.ndarray:
    """Pack a bool bitmap into int64 words, bit j (LSB-first) of word i =
    bits[i*64 + j] — the layout ``_bitmap_member_cond`` reads back with
    getbit. Little bit-order within bytes + little-endian byte order
    within words makes the numpy view line up with that contract."""
    bits = np.asarray(bits, dtype=bool)
    pad = (-len(bits)) % 64
    if pad:
        bits = np.concatenate([bits, np.zeros(pad, dtype=bool)])
    return np.packbits(bits, bitorder="little").view("<i8")


def _bitmap_literal(words: np.ndarray) -> Column:
    """The packed-word bitmap as ONE ArrayType(LongType) Literal node
    (F.lit of an int64 ndarray arrives JVM-side as a single long[]).
    Crucially this is O(1) PLAN nodes at any bitmap size — F.lit(list)
    stamps one literal node per element (the r7 literal-count cliff:
    4.5k nodes at this bench's m, 150M at a 1G-key bloom). A one-row
    broadcast-JOIN carrier (the similarity-module idiom) was measured
    and rejected: the join copies the full bitmap into every probe-side
    output row (600k rows x 36 KB = 12.7 s where the literal probe costs
    ~0.2 s) — that idiom is for payloads consumed a few thousand times,
    not per row of a join's big side. A BinaryType literal probed via
    substr+hex+conv was also measured and rejected (~3x the per-row
    cost: three allocations per bit test). The literal ships to
    executors inside the broadcast task binary — the same bytes the old
    Python-probe broadcast variable shipped."""
    return F.lit(np.asarray(words, dtype=np.int64))


def _bitmap_member_cond(words_lit: Column, positions: list[Column]) -> Column:
    """'Every position's bit is set in the packed-word bitmap' as a pure
    JVM expression: element_at + getbit per position (k small), fully
    codegen-able — no HOF, no Python.

    NULL keys: xxhash64 is NON-nullable (a NULL input is skipped and the
    seed-derived constant comes back), so unlike the old md5 path a NULL
    key hashes to FIXED positions and would pass whenever the build side
    contained any NULL key. Callers that want join-prefilter semantics
    (a NULL key can never equi-join) must AND an explicit
    ``key.isNotNull()`` — all three prefilter entry points here do."""
    cond = F.lit(True)
    for p in positions:
        w = F.element_at(words_lit, (F.shiftright(p, 6) + 1).cast("int"))
        cond = cond & (F.getbit(w, p.bitwiseAND(F.lit(63))) == 1)
    return cond


def optimal_params(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) minimizing memory for a target false-positive rate."""
    m = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m / max(1, expected_items) * math.log(2)))
    return m, k


def build_bloom(
    df: DataFrame,
    key_col: str,
    m_bits: int,
    num_hashes: int,
    normalize: bool = True,
) -> np.ndarray:
    """Distributed bloom build, driver-collect-free.

    Positions are computed JVM-side (explode of the shared position
    expression), then each partition ORs its positions into a local packed
    numpy bitmap inside one Arrow batch pass (``mapInArrow`` — no per-row
    Python), and the per-partition bitmaps are OR-merged executor-side via
    ``treeReduce``. The driver receives O(depth) bitmaps of m_bits/8 bytes
    — never a row per set position, and no distinct shuffle at all. At
    1 G keys / 1% fpp (m ~= 9.6e9 bits) driver traffic is ~1.2 GB once,
    versus billions of position rows for a distinct+collect build.
    """
    import pyarrow as pa

    n_bytes = (m_bits + 7) // 8

    def _part_bitmaps(batches):
        bits = np.zeros(m_bits, dtype=bool)
        for b in batches:
            bits[b.column(0).to_numpy(zero_copy_only=False)] = True
        yield pa.RecordBatch.from_arrays(
            [pa.array([np.packbits(bits).tobytes()], type=pa.binary())], ["bm"]
        )

    pos_df = df.select(
        F.explode(
            _positions_expr(F.col(key_col), num_hashes, m_bits, normalize)
        ).alias("p")
    )
    # Right-size build parallelism to the bitmap, not the input split
    # count: a small filter on 32 splits would pay 32 Arrow-worker
    # round-trips to OR 36 KB bitmaps. ~8 Mbit of bitmap per task keeps
    # tasks meaningful at every scale (1 G keys -> ~1200 tasks).
    # coalesce() never INCREASES partition count, so the min() against
    # the current count is implicit — no pos_df.rdd round-trip (that
    # probe forced a full plan->RDD conversion on the driver; r13).
    pos_df = pos_df.coalesce(max(1, m_bits // 8_000_000 + 1))
    partials = pos_df.mapInArrow(_part_bitmaps, "bm binary").rdd.map(
        lambda r: np.frombuffer(r[0], dtype=np.uint8).copy()
    )
    try:
        packed = partials.treeReduce(np.bitwise_or)
    except ValueError:  # empty RDD (zero input partitions) — empty filter
        return np.zeros(m_bits, dtype=bool)
    return np.unpackbits(packed)[:m_bits].astype(bool)


def bloom_prefilter(
    big: DataFrame,
    small: DataFrame,
    key: str,
    fpp: float = 0.01,
    expected_items: int | None = None,
) -> DataFrame:
    """Keep only big-side rows whose `key` might appear in `small[key]`.

    Superset of the exact semi-join (no false negatives); follow with the
    real join for exactness. Typical use: cut the big side's shuffle volume
    before a selective join, the DistributedCache-bloom pattern.

    NULL keys are dropped explicitly (isNotNull conjunct): they can never
    match the equi-join this prefilters for, and without the guard the
    non-nullable xxhash64 would let a NULL probe key pass whenever the
    build side contained any NULL key (r13 ADVICE).
    """
    # Plain count, not distinct().count(): duplicates only overestimate n,
    # which sizes the bitmap up — safe — and skips a whole distinct shuffle.
    n = expected_items if expected_items is not None else small.count()
    m_bits, k = optimal_params(n, fpp)
    # Native-type hashing when both sides share a dtype (the probe is
    # per-row on the BIG side; the string-normalized hash costs 16x more
    # per conjunct evaluation); string normalization only on mismatch so
    # e.g. an int build side still agrees with a bigint probe side.
    normalize = small.schema[key].dataType != big.schema[key].dataType
    bits = build_bloom(small, key, m_bits, k, normalize)
    # Bit positions are computed JVM-side with the SAME expression as the
    # build, so build/probe agree by construction; the bitmap is a single
    # array<bigint> literal and the probe is element_at+getbit — no
    # Python boundary anywhere on the big side's scan (r13: the previous
    # pandas-UDF probe was also infer-pushed through the downstream join,
    # so BOTH sides paid an Arrow pass).
    cond = _bitmap_member_cond(
        _bitmap_literal(_bitmap_words(bits)),
        _position_parts(F.col(key), k, m_bits, normalize),
    )
    return big.filter(F.col(key).isNotNull() & cond)
