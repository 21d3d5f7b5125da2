"""Bloom-filter membership prefilter for big–big semi-joins.

Regime: ``contamination()`` (operators/dedup.py:164) broadcasts the
eval shingle index as a hash-join side — right when the index fits in
executor memory.  At 100 TB the membership set itself can be billions
of keys; a hash set no longer broadcasts, but its BLOOM FILTER does
(10 bits/key ⇒ 1 GB covers ~800 M keys at ~1% false positives; this
module's defaults are far smaller).  The pattern is then:

    1. build the bloom over the small(er) side's key — one pass,
       aggregated per BYTE of the filter, so the driver only ever
       materializes the filter itself, never the keys;
    2. prefilter the big side with the bloom IN THE SCAN STAGE — the
       ~99% of rows that cannot match die before the shuffle;
    3. run the exact semi-join on the survivors — false positives are
       eliminated here, so the composite is EXACT and the bloom only
       controls how much data reaches the shuffle.

Spark's own runtime-bloom rewrite (spark.sql.optimizer.runtime.
bloomFilter.*) does this automatically for some join shapes, but its
``bloom_filter_agg``/``might_contain`` expressions are not exposed in
the public function registry (probed on this build: UNRESOLVED_ROUTINE),
so this is the same design built from public primitives: xxhash64 with
per-index salt for the k hash functions, a byte-wise bit_or aggregate
for construction, and a binary literal + substring/bit-test expression
for probing.

The filter ships to executors as ONE BinaryType literal, and the probe
expression does k byte lookups per row — no Python, fully codegen'd.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bloom_parameters(n_keys: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard (m, k) sizing: m = -n·ln(p)/ln(2)², k = (m/n)·ln(2).

    m is rounded up to a whole number of bytes (and at least 64 bits)
    so the byte-wise builder and prober agree on layout.
    """
    n = max(1, n_keys)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 7) // 8 * 8)
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """k bit positions for a key: xxhash64 salted by hash index."""
    return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)) for i in range(k)]


def build_bloom(df: DataFrame, col: str, m_bits: int, k: int) -> bytes:
    """One-pass distributed build; returns the filter as bytes.

    Shuffle carries ≤ m/8 byte-rows (the groupBy pre-aggregates
    map-side), and the collect is exactly filter-sized — the same
    "driver holds the sketch, never the data" contract as the k·d
    k-means reduction in operators/similarity.py.
    """
    if m_bits % 8:
        raise ValueError("m_bits must be a multiple of 8")
    pos = F.explode(F.array(*_positions(F.col(col), m_bits, k))).alias("pos")
    by_byte = (
        df.select(pos)
        .select(
            F.expr("pos div 8").alias("byte_idx"),
            F.expr("shiftleft(1, cast(pos % 8 as int))").alias("bit"),
        )
        .groupBy("byte_idx")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    buf = bytearray(m_bits // 8)
    for r in by_byte:
        buf[r.byte_idx] = r.bits
    return bytes(buf)


def might_contain(bloom: bytes, col: Column, k: int) -> Column:
    """Probe expression: AND of k byte-lookup bit tests.

    ``substring(<binary literal>, idx, 1)`` slices one byte; casting
    the 1-byte binary through hex()/conv() yields its integer value
    (this Spark build has no direct binary→tinyint cast). All JVM-side.
    """
    m_bits = len(bloom) * 8
    lit = F.lit(bloom)
    # PySpark's shiftleft/shiftright take a Python-int bit count only,
    # so the per-row bit mask comes from an 8-entry power table instead
    masks = F.array(*[F.lit(1 << b) for b in range(8)])
    cond = F.lit(True)
    for p in _positions(col, m_bits, k):
        byte_val = F.conv(
            F.hex(F.substring(lit, (p / 8).cast("int") + 1, 1)), 16, 10
        ).cast("int")
        mask = F.element_at(masks, (p % 8).cast("int") + 1)
        cond = cond & (byte_val.bitwiseAND(mask) != 0)
    return cond


def bloom_prefilter_semi_join(
    big: DataFrame, small: DataFrame, on: str, fpp: float = 0.01
) -> DataFrame:
    """EXACT semi-join of ``big`` against ``small[on]``, bloom-accelerated.

    The filter is sized by the distinct key count, taken with one tiny
    aggregate job (exact count — at real scale an estimate from
    approx_count_distinct upstream would avoid the extra pass).

    The distinct key set feeds THREE actions (count, bloom build, the
    refine join), so it is localCheckpoint'ed once — without the
    barrier each action re-runs the caller's whole upstream pipeline
    (STATUS lesson 8).
    """
    keys = small.select(on).distinct().localCheckpoint(eager=True)
    m, k = bloom_parameters(keys.count(), fpp)
    bloom = build_bloom(keys, on, m, k)
    pre = big.filter(might_contain(bloom, F.col(on), k))
    return pre.join(keys, on, "left_semi")
