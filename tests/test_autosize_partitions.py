"""Data-scaled shuffle sizing (operators/stats.py).

VERDICT r12 #1: the BENCH_SF100 spill wall (fixed 32 partitions →
14.4×/decade) must be fixed by engine behavior, not per-run bench
conf.  These tests pin the pure sizing rule on synthetic file
layouts and the session contract: the dataset's input-bytes rule,
floored at the session's build-time partitions, is a pure function of
the dataset — a plan never depends on what ran earlier in the session.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sec_edgar_spark import catalog
from sec_edgar_spark.operators import stats
from sec_edgar_spark.operators.stats import (
    BYTES_PER_PARTITION_DEFAULT,
    suggest_shuffle_partitions,
)

MiB = 1024 * 1024


# ---------------------------------------------------------------- pure rule


def test_small_data_clamps_to_lo():
    assert suggest_shuffle_partitions(0, lo=32) == 32
    assert suggest_shuffle_partitions(5 * MiB, lo=32) == 32


def test_power_of_two_rounding():
    # 792 MB (the sf100 documents table) at the default 6 MiB/partition
    # needs 126 → rounds to the measured BENCH_SF100 pin of 128.
    assert suggest_shuffle_partitions(792_000_000) == 128
    # just past a power of two → next one
    bpp = BYTES_PER_PARTITION_DEFAULT
    assert suggest_shuffle_partitions(129 * bpp) == 256


def test_hi_clamp_guards_runaway():
    assert suggest_shuffle_partitions(10**15, hi=4096) == 4096


def test_monotone_in_bytes():
    prev = 0
    for nbytes in [0, 1, 10 * MiB, 100 * MiB, 1000 * MiB, 10_000 * MiB]:
        cur = suggest_shuffle_partitions(nbytes)
        assert cur >= prev
        prev = cur


def test_jitter_stability():
    # power-of-two rounding: ±2% byte jitter on a dataset must not
    # flip the plan unless it crosses a power-of-two boundary
    n = 700_000_000  # mid-band (needs ~112 of the 65..128 p2 band)
    assert (
        suggest_shuffle_partitions(int(n * 0.98))
        == suggest_shuffle_partitions(int(n * 1.02))
        == 128
    )


def test_bad_bpp_raises():
    with pytest.raises(ValueError):
        suggest_shuffle_partitions(100, bytes_per_partition=0)


# ------------------------------------------------------------- table bytes


def test_table_bytes_single_file(tmp_path):
    p = tmp_path / "t.parquet"
    p.write_bytes(b"x" * 1234)
    assert stats.dataset_fingerprint(str(p))[2] == 1234


def test_table_bytes_directory_of_parts(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    for i, sz in enumerate([100, 200, 300]):
        (d / f"part-{i}.parquet").write_bytes(b"x" * sz)
    assert stats.dataset_fingerprint(str(d))[2] == 600


def test_table_bytes_missing_path_is_zero(tmp_path):
    # unreadable tables count 0 bytes: the rule stands down to lo=1
    assert stats.input_partitions(str(tmp_path), ["nope"]) == 1


# ------------------------------------------------------- session contract


def _build_partitions(spark) -> int:
    return int(
        spark.sparkContext.getConf().get("spark.sql.shuffle.partitions", "200")
    )


def _fake_dataset(tmp_path, name, lineitem_bytes):
    """A dataset dir holding a real (tiny) region table and a sparse
    lineitem file: the sizing rule only reads st_size, and only region
    is ever scanned."""
    d = tmp_path / name
    d.mkdir()
    pq.write_table(pa.table({"r_regionkey": [0]}), str(d / "region.parquet"))
    with open(d / "lineitem.parquet", "wb") as fh:
        if lineitem_bytes:
            fh.seek(lineitem_bytes - 1)
            fh.write(b"\0")
    return str(d)


def test_floor_is_session_value_and_big_data_raises(spark, tmp_path):
    base = _build_partitions(spark)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        small = _fake_dataset(tmp_path, "small", 10)
        catalog.table(spark, small, "region")
        # a small dataset never lowers or raises the session's value
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == base
        # ~1 GB lineitem, never scanned: 6 MiB/partition → 160 → 256
        big = _fake_dataset(tmp_path, "big", 10**9)
        catalog.table(spark, big, "region")
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == max(
            base, 256
        )
        # switching back to the small dataset re-sizes DOWN (no ratchet)
        catalog.table(spark, small, "region")
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_dataset_rule_is_largest_table_whatever_touch_order(tmp_path):
    # ~1 GB at 6 MiB/partition → 160 → 256, whichever table comes first
    # (the floor test shows catalog.table sizing by a never-scanned
    # lineitem while only region is read)
    d = _fake_dataset(tmp_path, "ds", 10**9)
    for names in (["region", "lineitem"], ["lineitem", "region"]):
        assert stats.input_partitions(d, names) == 256


def test_catalog_wires_autosize(spark):
    """catalog.table() applies the dataset rule on every call: gate-scale
    data stays at the session's build-time value (the r12 'gate bench
    within noise' criterion), whatever a runtime write left behind."""
    base = _build_partitions(spark)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        sf = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
        if not os.path.exists(sf):
            pytest.skip("driver testdata not present")
        spark.conf.set("spark.sql.shuffle.partitions", "999")
        catalog.table(spark, sf, "events")
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_scan_spread_only_below_scan_task_count(spark, tmp_path):
    """catalog.table(spread=True) round-robins a scan over
    stats.spread_parts tasks only when fewer scan tasks than that read
    data: at most one per row group, and a file smaller than one byte
    split is one task however many row groups it has.  spread=False
    never repartitions."""
    import hashlib

    text = [hashlib.sha256(str(i).encode()).hexdigest() * 2 for i in range(2000)]
    rows = pa.table({"doc_id": list(range(2000)), "text": text})
    one, small, split = (tmp_path / d for d in ("one", "small", "split"))
    for d in (one, small, split):
        d.mkdir()
    pq.write_table(rows, one / "documents.parquet")
    # 8 row groups of ~32 KB: one 4 MB-open-cost split by default
    for d in (small, split):
        pq.write_table(rows, d / "documents.parquet", row_group_size=250)
    par = spark.sparkContext.defaultParallelism
    want = min(par, 2000 // stats.SPREAD_ROWS_PER_TASK)

    def plan(sf_dir, spread):
        df = catalog.table(spark, str(sf_dir), "documents", spread=spread)
        return df._jdf.queryExecution().optimizedPlan().toString()

    path = str(one / "documents.parquet")
    assert stats.spread_parts(spark, path, 1) == want
    assert f"Repartition {want}, true" in plan(one, True)
    assert "Repartition" not in plan(one, False)
    # many row groups, one split: still a single scan task -> spread
    assert f"Repartition {want}, true" in plan(small, True)
    # 8 KB splits put every row group in its own task (8 >= want on
    # the suite's local[4]) -> no spread
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try:
        assert "Repartition" not in plan(split, True)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # row groups bound the data-reading tasks: 8 groups over 32 splits
    # read like 8 tasks
    assert stats.spread_parts(spark, str(split / "documents.parquet"), 32) is None
    assert stats.spread_parts(spark, str(split / "documents.parquet"), 1) == want
