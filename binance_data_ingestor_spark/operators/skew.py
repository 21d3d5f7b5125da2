"""Skew-resilient equi-join via key salting.

AQE's skew-join split (`spark.sql.adaptive.skewJoin.enabled`) handles
moderate skew by splitting oversized partitions AFTER the shuffle
writes them. Salting attacks the pathological case AQE can't: one key
so hot that even a single map task's output for it is too large, or a
stream-side build that must bound per-task state up front. The trade:
the small side is replicated `salt_buckets`× — use it for the
hot-fact ⨝ medium-dim shape where the dim is too big to broadcast but
cheap to replicate a handful of times.

Determinism: the scatter uses a hash of the large side's OTHER columns
(not RNG), so reruns and task retries place every row in the same
bucket — required for exactly-once sinks downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join `large` to `small` on column `on`, de-skewing hot keys.

    The large side scatters each row into one of `salt_buckets` buckets
    by hashing all its non-key columns; the small side is replicated
    into every bucket. The join key becomes
    (key, bucket), so a hot key's rows spread over `salt_buckets`
    shuffle partitions instead of one.

    `how` may be 'inner' or any left-ish join ('left', 'left_semi',
    'left_anti') — the large side keeps exactly one copy of each row,
    so left semantics survive salting. Right/full joins would see the
    small side `salt_buckets`× and are rejected.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(f"salted_join does not support how={how!r}")
    scatter = [c for c in large.columns if c != on]
    if not scatter:
        raise ValueError("need at least one non-key column to scatter on")
    salted_large = large.withColumn(
        "__salt", F.pmod(F.xxhash64(*scatter), F.lit(salt_buckets)).cast("int")
    )
    replicated_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_large.join(replicated_small, [on, "__salt"], how)
    return out.drop("__salt")
