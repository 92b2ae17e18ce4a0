"""bench.py contract guards: every headline name resolves in the
registry (a rename can never crash the driver's bench run again —
round 3 lost its whole number to one bad name), and the entry-point
trio exists with the right shapes."""

import sys

sys.path.insert(0, ".")


def test_headline_names_all_registered():
    import bench
    import sec_edgar_spark.queries as Q

    qs = Q.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"bench headline names not in registry: {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), "duplicate names"


def test_entry_contract_shapes():
    import __spark_entry__ as E
    import sec_edgar_spark.queries as Q

    qs, os_ = E.queries(), E.oracle_sql()
    assert qs.keys() == Q.queries().keys()
    # every oracle key must have a query; rows-only queries are the
    # explicitly-documented non-SQL-expressible set, nothing else
    assert set(os_) <= set(qs)
    rows_only = set(qs) - set(os_)
    assert rows_only == {
        "curation_pack_ffd",       # bin-state-dependent FFD packer
        "text_compression_ratio",  # zlib has no SQL twin
    }, rows_only
    assert callable(E.entry)


def _py_files(*roots):
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    for root in roots:
        p = repo / root
        yield from ([p] if p.is_file() else sorted(p.rglob("*.py")))


def test_engine_conf_surface():
    """The engine reads exactly two ``spark.sec_edgar.*`` keys; every
    physical choice (scan spread, argmin path, partition counts) is
    made by the query or from dataset statistics, never by a switch."""
    import re

    keys = set()
    for f in _py_files("sec_edgar_spark"):
        keys |= set(re.findall(r"spark\.sec_edgar\.(\w+)", f.read_text()))
    assert keys == {"checkpoint_dir", "shard_root"}, keys


def test_bench_sets_no_per_query_plan_switch():
    """The bench and the scale legs time the plans the correctness gate
    checks: none of them sets a removed per-query plan switch."""
    removed = ("scan_parallelize", "vectorized_argmin", "longcents")
    offenders = [
        (str(f), key)
        for f in _py_files("bench.py", "tools")
        for key in removed
        if key in f.read_text()
    ]
    assert not offenders, offenders
