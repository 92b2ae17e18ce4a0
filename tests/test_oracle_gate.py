"""Full-registry oracle gate over the REAL testdata parquet.

Round 3 proved the gap this closes: 209 unit tests were green while two
driver-gate queries (and the whole bench) were broken, because every
unit test builds in-memory DataFrames — the parquet-specific type
surface (TIMESTAMP_NTZ under Spark >= 4.1) was never exercised.  This
module runs every ``queries()`` entry against its DuckDB ``oracle_sql()``
twin on /root/testdata/sf0.001, one pytest case per query, exactly the
driver's CORRECTNESS methodology (tools/check_oracle.py).

Run just this gate with ``pytest -m oracle``; skip it with
``-m 'not oracle'``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")

pytestmark = [
    pytest.mark.oracle,
    pytest.mark.skipif(
        not os.path.isdir(SF_DIR), reason=f"testdata {SF_DIR} not present"
    ),
]


def _registry():
    import __spark_entry__ as entrymod

    return entrymod.queries(), entrymod.oracle_sql()


QUERIES, ORACLES = _registry()


@pytest.fixture(scope="module")
def duck():
    from tools.check_oracle import duck_connect

    con = duck_connect(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(name, spark, duck):
    from tools.check_oracle import compare

    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        # rows-only contract (non-SQL-expressible op): must still run on
        # the real parquet and produce a well-formed frame.
        assert spark_pdf is not None
        return
    duck_pdf = duck.execute(ORACLES[name]).fetchdf()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.slow
def test_oracle_parity_sf001_sweep(spark):
    """Driver-gate-scale sweep (marker: slow): the full registry against
    DuckDB at sf0.01 — the exact scale CORRECTNESS_r{N}.json runs at."""
    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.01 testdata not present")
    from tools.check_oracle import compare, duck_connect

    con = duck_connect(sf_dir)
    try:
        failures = []
        for name in sorted(QUERIES):
            spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
            if name not in ORACLES:
                continue
            duck_pdf = con.execute(ORACLES[name]).fetchdf()
            problems = compare(name, spark_pdf, duck_pdf)
            if problems:
                failures.append((name, problems))
        assert not failures, failures
    finally:
        con.close()
