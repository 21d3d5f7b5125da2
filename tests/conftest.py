from __future__ import annotations

import os
import sys

import pytest

_TESTS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TESTS)
sys.path.insert(0, _REPO)

# executor Python workers unpickle closures by module reference — they need
# the repo and tests dirs on their own sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_REPO, _TESTS, os.environ.get("PYTHONPATH", "")]
)

SF_SMOKE = "/root/testdata/sf0.001"


def drain(q, timeout: float) -> None:
    """Wait for streaming query ``q`` to terminate, or stop it and fail.

    A query that has not terminated has not produced its result, so no
    test may read its sink before this returns.
    """
    if not q.awaitTermination(timeout):
        q.stop()
        pytest.fail(
            f"streaming query {q.name or q.id} still running after {timeout} s"
        )


@pytest.fixture(scope="session")
def spark():
    from binance_data_ingestor_spark.session import get_spark

    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()
