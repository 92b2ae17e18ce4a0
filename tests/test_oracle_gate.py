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


def test_q1_longcents_parity(spark):
    """The long-cents two-phase q1 (spark.sec_edgar.longcents=true) must
    produce bit-identical rows to the decimal path within its documented
    exactness bound."""
    import __spark_entry__ as entrymod

    q1 = entrymod.queries()["q1_pricing_summary"]
    spark.conf.set("spark.sec_edgar.longcents", "false")
    dec_rows = {tuple(r[:2]): r for r in q1(spark, SF_DIR).collect()}
    spark.conf.set("spark.sec_edgar.longcents", "true")
    try:
        long_rows = {tuple(r[:2]): r for r in q1(spark, SF_DIR).collect()}
    finally:
        spark.conf.set("spark.sec_edgar.longcents", "false")
    assert dec_rows.keys() == long_rows.keys()
    for k in dec_rows:
        assert dec_rows[k] == long_rows[k], k


def test_q1_longcents_parity_past_2_53(spark, tmp_path):
    """Long-cents q1 stays bit-identical once a group's micro-unit
    charge sum passes 2^53: the sf0.1 R/O lineitem rows ×10 leave
    534 040 rows in one group after the q1 filter (sum_charge ≈
    2.8e10 dollars = 2.8e16 micro-units), where a long → double →
    ÷10^6 scale-down rounds twice."""
    base = "/root/testdata/sf0.1/lineitem.parquet"
    if not os.path.exists(base):
        pytest.skip("sf0.1 testdata not present")
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cols = [
        "l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax",
    ]
    li = pq.read_table(base, columns=cols)
    ro = li.filter(
        pc.and_(
            pc.equal(li["l_returnflag"], "R"), pc.equal(li["l_linestatus"], "O")
        )
    )
    pq.write_table(pa.concat_tables([ro] * 10), tmp_path / "lineitem.parquet")
    sf_dir = str(tmp_path)

    q1 = QUERIES["q1_pricing_summary"]
    spark.conf.set("spark.sec_edgar.longcents", "false")
    dec_rows = q1(spark, sf_dir).collect()
    spark.conf.set("spark.sec_edgar.longcents", "true")
    try:
        long_rows = q1(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sec_edgar.longcents", "false")
    assert len(dec_rows) == 1 and dec_rows[0]["count_order"] == 534_040
    assert dec_rows[0]["sum_charge"] * 1e6 > 2**53
    assert long_rows == dec_rows


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
