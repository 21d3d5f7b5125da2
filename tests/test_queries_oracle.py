"""Every registered query hash-matches its DuckDB oracle at sf0.001.

This is the same comparison the driver runs at sf0.01 (t2 gate), kept
at the smoke scale factor so the suite stays fast. The same test reads
the AQE-final plan it just executed for the BNLJ/Cartesian census
(``plans_census.BNLJ_ALLOWLIST``).
"""

from __future__ import annotations

import math

import pytest

from binance_data_ingestor_spark.plans_census import BNLJ_ALLOWLIST
from binance_data_ingestor_spark.queries import registry

from conftest import SF_SMOKE

QUERIES, ORACLES = registry()


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(
        data, key=lambda t: tuple((x is None, str(x)) for x in t)
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_SMOKE)
    s_cols, s_rows = _norm(sdf.columns, [tuple(r) for r in sdf.collect()])
    # collect() finalized the AdaptiveSparkPlan; its toString embeds the
    # pre-AQE "Initial Plan" section, so keep only the final one
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    nested = "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    assert nested == (name.split("_")[0] in BNLJ_ALLOWLIST), (
        f"{name}: BNLJ/Cartesian in plan={nested}, in BNLJ_ALLOWLIST="
        f"{not nested} — a data-sized nested loop must become an "
        "equi-join; a new 1-row crossing is adjudicated in plans_census.py, "
        "and a query whose nested loop is gone leaves the allowlist"
    )
    if name not in ORACLES:
        assert len(s_rows) >= 0  # rows-only check (driver parity)
        return
    res = duck.execute(ORACLES[name])
    d_cols, d_rows = _norm([d[0] for d in res.description], res.fetchall())
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows)
    assert s_rows == d_rows


def _num_family(series):
    """Numeric dtype family of a pandas column, or None if non-numeric.

    The driver's hash canonicalizes the MATERIALIZED pandas values, so
    int64-127 vs float64-127.0 is a hash mismatch even when the values
    are numerically equal. This maps each column to the family the
    driver would see: 'int' / 'float' / 'bool', with object columns
    classified by their first non-null value (DuckDB can hand back
    Python scalars in object columns).
    """
    k = series.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "O":
        for v in series:
            if v is None:
                continue
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, int):
                return "int"
            if isinstance(v, float):
                return "float"
            return None
    return None


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_oracle_dtype_parity(name, spark, duck):
    """Numeric dtype-family parity between Spark toPandas() and DuckDB
    fetchdf() — the exact materialization path the driver hashes.

    Guards against the round-3 landmine class: an oracle's un-cast
    integer sum() comes back as DuckDB HUGEINT, pandas float64, while
    Spark emits int64 — values equal, hash red (q132/q133 in
    CORRECTNESS_r03). Reverting the CAST(sum(..) AS BIGINT) fixes makes
    this test fail on exactly those queries.
    """
    spdf = QUERIES[name](spark, SF_SMOKE).toPandas()
    dkdf = duck.execute(ORACLES[name]).fetchdf()
    assert sorted(spdf.columns) == sorted(dkdf.columns)
    bad = []
    for c in spdf.columns:
        sf, df_ = _num_family(spdf[c]), _num_family(dkdf[c])
        if (sf is not None or df_ is not None) and sf != df_:
            bad.append((c, sf, df_))
    assert not bad, (
        f"{name}: numeric dtype-family mismatch (col, spark, oracle): {bad}"
    )
