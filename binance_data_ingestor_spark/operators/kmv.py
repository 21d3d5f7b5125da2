"""KMV (k-minimum-values) distinct sketch with SET-OPERATION estimates.

The one capability the registry's HLL family (q16/q171) cannot offer:
because a KMV sketch RETAINS the k smallest hash values (and their
keys' set-membership flags), two sketches support principled
*intersection* and *Jaccard* estimates, not just union — the classic
theta-sketch construction (Beyer et al., "On synopses for distinct-
value estimation under multiset operations", SIGMOD'07; the same
estimator family behind Apache DataSketches' theta sketch).

Estimators (k minimum 60-bit hash values of a key set S):
    U_k        = k-th smallest hash, normalized to (0, 1]
    n̂(S)      = (k-1) / U_k                      (unbiased, RSE ≈ 1/√(k-2))
    Ĵ(A,B)    = |{h ∈ KMV_k(A ∪ B) : key ∈ A ∧ key ∈ B}| / k
    n̂(A ∩ B) = Ĵ · n̂(A ∪ B)

100 TB shape: a KMV sketch build is Spark's `ORDER BY h LIMIT k` —
physically TakeOrderedAndProject (per-partition top-k, then a single
k·p-row merge on one task); no global sort, no full shuffle. Sketches
are k-row artifacts — mergeable by union + re-limit, broadcastable,
and the set algebra downstream of the scan is O(k) regardless of data
size. The hash is engine-portable (md5 hex fold — the same generator
emits the Spark expression and the DuckDB oracle), so a sketch built
by this engine can be audited bit-for-bit by another.

Hash-collision note: distinct keys collide in the 60-bit fold with
probability ≈ n²/2^61 (≪ 1e-6 for n up to 10^7 keys per set); a
collision only perturbs the estimate by one slot. Order ties are
broken by key so the retained row set is deterministic anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import HEX_DIGITS

# 2^60 — the hash domain size. (k-1) * 2^60 for k ≤ 2^13 is exactly
# representable as a double (mantissa k-1, exponent 60), so the
# estimator numerator below is one exact literal on both engines.
_DOMAIN = 1 << 60


def u60_sql(dialect: str, col: str) -> str:
    """Uniform 60-bit BIGINT hash of ``col`` — the first 15 hex digits
    of md5, folded via per-digit position lookup so the SAME generator
    yields the Spark expression ('spark') and the DuckDB oracle
    ('duckdb'): provably one function (extends
    ``text.hash_bucket_sql``'s 4-digit fold to 15 digits). 15 digits
    keep the fold inside BIGINT; the first term is cast up front so no
    intermediate is 32-bit. Engines' subexpression elimination shares
    the single md5 call across the 15 digit lookups.
    """
    pos = "instr" if dialect == "spark" else "strpos"
    stype = "STRING" if dialect == "spark" else "VARCHAR"
    digits = [
        f"({pos}('{HEX_DIGITS}', substring(md5(CAST({col} AS {stype})), {i + 1}, 1)) - 1)"
        for i in range(15)
    ]
    expr = f"CAST({digits[0]} AS BIGINT)"
    for d in digits[1:]:
        expr = f"({expr} * 16 + {d})"
    return expr


def u60(col: str) -> Column:
    return F.expr(u60_sql("spark", col))


def kmv_sketch(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """The k rows of ``df`` with the smallest ``u60(key_col)``, all
    input columns retained plus the hash as ``__h``. ``df`` must be
    distinct by ``key_col`` (a repeated key would occupy two slots and
    bias the estimate). Ties (60-bit collisions) break by key, so the retained
    set is deterministic. Plans as TakeOrderedAndProject — the
    scale-safe top-k, not a global sort.
    """
    return (
        df.withColumn("__h", u60(key_col))
        .orderBy("__h", key_col)
        .limit(k)
    )


def kmv_estimate_expr(k: int, kth_hash: Column) -> Column:
    """Distinct-count estimate (k-1)/U_k from the k-th smallest hash.

    Written as ONE exact double literal divided by the (deterministically
    rounded) double cast of the hash — a single IEEE division, so the
    value is bit-identical across engines, partitionings, and runs.
    """
    return F.lit(float((k - 1) * _DOMAIN)) / kth_hash.cast("double")


def kmv_estimate_sql(k: int, kth_hash_sql: str) -> str:
    """The DuckDB-side twin of :func:`kmv_estimate_expr` (same literal,
    same single division)."""
    return f"({float((k - 1) * _DOMAIN)!r} / CAST({kth_hash_sql} AS DOUBLE))"
