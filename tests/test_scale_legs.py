"""The scale-leg runner (tools/scale.py): replica and skew recipe
invariants on a 3-copy replica of sf0.001, the AQE skew-split check on
the plan that ran, and one tiny leg end to end (child JVMs, a child
that dies, the JSON and the markdown rendered from it)."""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from sec_edgar_spark import catalog
from sec_edgar_spark.catalog import DEFAULT_SF_DIR, table
from tools import scale

SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")

needs_sf = pytest.mark.skipif(not os.path.isdir(SF), reason=f"{SF} not present")


@pytest.fixture(scope="module")
def replica(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("x3"))
    scale.replicate(spark, SF, out, copies=3)
    return out


@needs_sf
def test_replica_rows_triple_and_keys_disjoint(spark, replica):
    for t in ("events", "documents", "embeddings", "lineitem", "orders", "part"):
        base, rep = table(spark, SF, t), table(spark, replica, t)
        assert rep.count() == 3 * base.count(), t
        for key in (c for c in base.columns if c in scale.KEY_OFFSETS):
            lo = base.agg(F.min(key)).first()[0]
            ranges = (
                rep.groupBy(((F.col(key) - lo) / scale.KEY_OFFSETS[key]).cast("long").alias("k"))
                .agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
                .orderBy("k")
                .collect()
            )
            assert [r.k for r in ranges] == [0, 1, 2], (t, key)
            assert all(a.hi < b.lo for a, b in zip(ranges, ranges[1:])), (t, key)
    for t in scale.FIXED_DIMS:
        assert table(spark, replica, t).count() == table(spark, SF, t).count()


@needs_sf
def test_replica_tokens_not_shared_across_copies(spark, replica):
    toks = table(spark, replica, "documents").select(
        (F.col("doc_id") / scale.KEY_OFFSETS["doc_id"]).cast("long").alias("copy"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    shared = toks.groupBy("tok").agg(F.countDistinct("copy").alias("n")).filter("n > 1")
    assert shared.count() == 0
    assert toks.filter(~F.col("tok").rlike(r"_[0-2]$")).count() == 0


@needs_sf
def test_skew_hot_keys_and_token_head(spark, replica, tmp_path):
    out = str(tmp_path / "skew")
    scale.skew(spark, replica, out)
    ev = table(spark, out, "events")
    hot_user = ev.filter(F.col("user_id") == scale.HOT_USER).count() / ev.count()
    assert abs(hot_user - 0.30) <= 0.03, hot_user
    docs = table(spark, out, "documents")
    hot_source = docs.filter(F.col("source") == scale.HOT_SOURCE).count() / docs.count()
    assert abs(hot_source - 0.40) <= 0.04, hot_source
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    head = toks.filter(F.col("tok").rlike(r"^h[0-9]$")).count() / toks.count()
    # The head is 10 % of the token hash space; its share of the stream
    # moves with whichever frequent tokens hash into it (13.2 % here).
    assert 0.05 <= head <= 0.15, head
    # untouched tables are the source's files
    assert os.path.realpath(f"{out}/part.parquet") == os.path.realpath(f"{replica}/part.parquet")


@needs_sf
def test_untouched_table_links_are_relative_and_survive_a_move(spark, tmp_path):
    tree = tmp_path / "tree"
    shutil.copytree(SF, tree / "base")
    scale.skew(spark, str(tree / "base"), str(tree / "skew"), tables=("events",))
    links = [p for p in (tree / "skew").iterdir() if p.is_symlink()]
    assert {p.name for p in links} == {f"{t}.parquet" for t in catalog.TABLES if t != "events"}
    assert all(os.readlink(p) == f"../base/{p.name}" for p in links)
    moved = tmp_path / "moved"
    shutil.move(str(tree), str(moved))
    assert all((moved / "skew" / p.name).exists() for p in links)
    assert table(spark, str(moved / "skew"), "part").count() == table(spark, SF, "part").count()


@needs_sf
def test_head_on_base_shares_head_positions_across_copies(spark, tmp_path):
    out = str(tmp_path / "x3_skew")
    scale.replicate(spark, SF, out, copies=3, tables=("documents",), skew=True, head_on_base=True)
    docs = table(spark, out, "documents").select(
        (F.col("doc_id") % scale.KEY_OFFSETS["doc_id"]).alias("doc"),
        F.transform(F.split("text", " "), lambda t: t.rlike(r"^h[0-9]$")).alias("is_head"),
    )
    per_doc = docs.groupBy("doc").agg(F.countDistinct("is_head").alias("n"), F.count("*").alias("c"))
    assert per_doc.filter("c != 3").count() == 0
    assert per_doc.filter("n != 1").count() == 0


def _join_split(spark, hot_share: float, group: str) -> bool:
    from tools.taskmetrics import GroupMetrics

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        n = 20_000
        key = F.when(F.col("id") % 100 < hot_share * 100, F.lit(0)).otherwise(F.col("id"))
        left = spark.range(n).select(key.alias("k"), F.col("id").alias("v"))
        right = spark.range(n).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        joined = left.join(right, "k")
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        joined.write.mode("overwrite").format("noop").save()
        sc.setJobGroup("", "")
        return GroupMetrics(spark).skew_join_split(group)
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_skew_split_read_from_the_plan_that_ran(spark):
    assert _join_split(spark, 0.7, "skew-check:hot") is True
    assert _join_split(spark, 0.0, "skew-check:uniform") is False


@needs_sf
def test_tiny_leg_end_to_end(spark, tmp_path):
    datasets = {
        "base": scale.Dataset(SF),
        "x3": scale.Dataset(str(tmp_path / "x3"), "base", copies=3),
    }
    scale.build(spark, "x3", datasets)
    leg = scale.Leg(
        "tiny leg",
        "TINY",
        ("base", "x3"),
        ("dedup_exact", "no_such_query"),
        factors=(("x3", "base"),),
        warm=1,
        jvms=((None, 2),),
    )
    scale.run_leg("tiny", leg, datasets, out_dir=str(tmp_path))
    with open(tmp_path / "BENCH_TINY.json") as fh:
        report = json.load(fh)
    recs = report["results"]["dedup_exact"]
    for col in ("base", "x3"):
        rec = recs[col]
        assert "died" not in rec, rec
        for k in ("cold_s", "wall_s", "task_s", "spill_mem_mb", "spill_disk_mb"):
            assert rec[k] is not None, (col, k)
        assert rec["wall_s"] == min(rec["walls_s"]) and len(rec["walls_s"]) == 1
        assert rec["skew_split"] is False
    md = (tmp_path / "BENCH_TINY.md").read_text()
    row = next(l for l in md.splitlines() if l.startswith("| dedup_exact |"))
    cells = [c.strip() for c in row.strip("|").split("|")]
    base, x3 = recs["base"]["wall_s"], recs["x3"]["wall_s"]
    assert cells[1:4] == [f"{base:g}s", f"{x3:g}s", f"{x3 / base:.1f}x"]
    assert re.search(r"Totals over the 1 queries", md)
    # a child that dies is recorded per column and rendered, not fatal
    died = report["results"]["no_such_query"]
    assert set(died) == {"base", "x3"} and all("died" in r for r in died.values())
    dead = next(l for l in md.splitlines() if l.startswith("| no_such_query |"))
    assert "| DIED | DIED |" in dead
