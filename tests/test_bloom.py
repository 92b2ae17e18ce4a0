"""Bloom filter build/probe: no false negatives, bounded false
positives, prefilter ⊇ exact semi-join, and prefilter+join = semi-join."""

import pytest
from pyspark.sql import functions as F

from sec_edgar_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    bloom_prefilter,
)
from sec_edgar_spark.operators.graph import ppr_int


def test_no_false_negatives(spark):
    keys = spark.range(0, 500).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k", n_bits=1 << 14, k=5)
    hits = (
        keys.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain(F.col("k"), F.col("words"), 1 << 14, 5))
        .count()
    )
    assert hits == 500  # every inserted key must probe positive


def test_false_positive_rate_bounded(spark):
    keys = spark.range(0, 500).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k", n_bits=1 << 14, k=5)
    # 5000 keys guaranteed absent (disjoint range)
    absent = spark.range(1_000_000, 1_005_000).select(F.col("id").alias("k"))
    fp = (
        absent.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain(F.col("k"), F.col("words"), 1 << 14, 5))
        .count()
    )
    # theoretical fp ~ (1 - e^{-kn/m})^k ~ 0.5% at n=500, m=16384, k=5;
    # generous 5x headroom keeps the test stable across hash details
    assert fp < 0.025 * 5000


def test_prefilter_superset_and_exact_composition(spark):
    facts = spark.range(0, 2000).select((F.col("id") % 700).alias("fk"), "id")
    dim = spark.range(0, 100).select((F.col("id") * 7).alias("dk"))
    pre = bloom_prefilter(facts, "fk", dim, "dk", n_bits=1 << 12, k=4)
    exact = facts.join(
        dim.withColumnRenamed("dk", "fk"), "fk", "semi"
    )
    pre_ids = {r["id"] for r in pre.collect()}
    exact_ids = {r["id"] for r in exact.collect()}
    assert exact_ids <= pre_ids  # superset: never drops a true match
    # composition with the exact join recovers exactly the semi-join
    refined = pre.join(dim.withColumnRenamed("dk", "fk"), "fk", "semi")
    assert {r["id"] for r in refined.collect()} == exact_ids


def test_probe_is_codegen_not_udf(spark):
    """The probe must stay JVM-side: no BatchEvalPython / ArrowEval in
    the plan, and the bloom side arrives broadcast."""
    facts = spark.range(0, 100).select(F.col("id").alias("fk"))
    dim = spark.range(0, 10).select(F.col("id").alias("dk"))
    pre = bloom_prefilter(facts, "fk", dim, "dk", n_bits=1 << 10, k=3)
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "Broadcast" in plan


def test_pagerank_ring_symmetry(spark):
    """On a symmetric ring every node has identical structure, so
    integer PageRank must give every node the same rank."""
    n = 12
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    ranks = ppr_int(sym, lambda c: F.lit(True), iters=3).collect()
    assert len(ranks) == n
    assert len({r["rank"] for r in ranks}) == 1


def test_pagerank_mass_is_stable(spark):
    """Hub gets more rank than leaves in a star graph; total mass stays
    within integer-floor slack of the scale."""
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "src long, dst long"
    )
    sym = star.unionByName(
        star.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    got = {
        r["id"]: r["rank"]
        for r in ppr_int(sym, lambda c: F.lit(True), iters=3).collect()
    }
    hub, leaves = got[0], [got[i] for i in range(1, 9)]
    assert all(hub > l for l in leaves)
    assert len(set(leaves)) == 1  # leaves are symmetric
    total = hub + sum(leaves)
    assert abs(total - 10**12) < 10**6  # floor-division leakage only


def test_bloom_bits_multiple_of_64_required(spark):
    keys = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        bloom_build(keys, "k", n_bits=100, k=3)


def test_bloom_k_validated(spark):
    keys = spark.range(3).select(F.col("id").alias("k"))
    for bad in (0, -1, 65):
        with pytest.raises(ValueError):
            bloom_build(keys, "k", n_bits=1 << 10, k=bad)
        with pytest.raises(ValueError):
            bloom_might_contain(F.col("k"), F.col("w"), 1 << 10, bad)


def test_bloom_high_k_no_overflow(spark):
    """k >= 9 must execute under Spark 4 ANSI mode: with the old 60-bit
    hash halves, h1 + i*h2 overflowed BIGINT at i >= 8 (ADVICE r5);
    the 56-bit halves keep every accepted k in range."""
    keys = spark.range(0, 200).select(F.col("id").alias("k"))
    for k in (9, 16, 64):
        bloom = bloom_build(keys, "k", n_bits=1 << 14, k=k)
        hits = (
            keys.crossJoin(F.broadcast(bloom))
            .filter(
                bloom_might_contain(F.col("k"), F.col("words"), 1 << 14, k)
            )
            .count()
        )
        assert hits == 200  # still no false negatives
