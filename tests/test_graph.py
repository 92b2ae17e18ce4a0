"""connected_components: chains, multiple components, canonical picks."""

import pytest
from pyspark.sql import functions as F

from sec_edgar_spark.operators.graph import canonical_assignment, connected_components


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    return {
        r["id"]: r["component"]
        for r in connected_components(edges, **kw).collect()
    }


def test_chain_collapses_to_min(spark):
    # 1-2, 2-3, 3-4: one component labelled 1 (needs >1 propagation round)
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_two_components(spark):
    got = _cc(spark, [(5, 6), (10, 11), (11, 12)])
    assert got == {5: 5, 6: 5, 10: 10, 11: 10, 12: 10}
    # a node whose only edge is a self-loop is its own component, as in
    # the recursive-CTE oracles
    assert _cc(spark, [(7, 7), (1, 2)]) == {7: 7, 1: 1, 2: 1}


def test_direction_and_duplicates_irrelevant(spark):
    got = _cc(spark, [(2, 1), (1, 2), (2, 3), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_long_chain_converges(spark):
    n = 20
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert set(got.values()) == {0}


def test_chain_converges_in_log_rounds(spark):
    """Pointer jumping must give O(log diameter) convergence: a
    4096-node chain converges well within 16 rounds (min-label
    propagation alone would need ~4096)."""
    n = 4096
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, max_iter=16).collect()
    }
    assert len(got) == n + 1
    assert set(got.values()) == {0}


@pytest.mark.slow
def test_100k_chain_probe(spark):
    """Scale probe (marker: slow): 100k-edge chain — the shape that
    defeats diameter-bounded propagation — converges in ~20 rounds."""
    n = 100_000
    edges = spark.range(n).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    comp = connected_components(edges, max_iter=25)
    assert comp.filter(F.col("component") != 0).count() == 0
    assert comp.count() == n + 1


def test_max_iter_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(10)], "src long, dst long")
    with pytest.raises(RuntimeError):
        connected_components(edges, max_iter=1)


def test_canonical_assignment(spark):
    edges = spark.createDataFrame([(7, 3), (3, 9)], "src long, dst long")
    rows = {r["id"]: r for r in canonical_assignment(edges).collect()}
    assert rows[3]["is_canonical"] is True
    assert rows[7]["is_canonical"] is False
    assert rows[9]["component"] == 3


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: LPA must settle each
    clique on its own min label (communities), even though connected
    components would merge them into one."""
    from sec_edgar_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(
        c1 + c2 + [(3, 10)], "src long, dst long"
    )
    got = {
        r.id: r.community
        for r in label_propagation(edges, iters=4).collect()
    }
    assert set(got) == set(range(4)) | set(range(10, 14))
    assert all(got[i] == 0 for i in range(3))      # clique 1 core
    assert all(got[i] == 10 for i in range(11, 14))  # clique 2 core


def test_label_propagation_deterministic_oscillation(spark):
    """Synchronous LPA on a bare 2-node edge oscillates (labels swap
    every round — the textbook bipartite behavior).  What the engine
    GUARANTEES is determinism: the same trajectory every run, which is
    exactly what the oracle replays.  Odd rounds swap, even rounds
    restore."""
    from sec_edgar_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")

    def run(iters):
        return {
            r.id: r.community
            for r in label_propagation(edges, iters=iters).collect()
        }

    assert run(1) == {0: 1, 1: 0}   # swap
    assert run(2) == {0: 0, 1: 1}   # swap back
    assert run(1) == run(1)          # deterministic across runs


# ---- wcc_star (large-star/small-star contraction) ----------------------

from sec_edgar_spark.operators.graph import wcc_star  # noqa: E402


def _wcc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "s long, d long")
    return {r["id"]: r["component"] for r in wcc_star(edges, **kw).collect()}


def test_wcc_star_chain_and_components(spark):
    got = _wcc(
        spark,
        [(1, 2), (2, 3), (3, 4), (100, 101), (101, 102), (200, 201)],
    )
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        100: 100, 101: 100, 102: 100,
        200: 200, 201: 200,
    }


def test_wcc_star_agrees_with_pointer_jumping(spark):
    """Both CC formulations must produce the identical assignment on a
    graph mixing a chain, a star hub, duplicate and reversed edges."""
    pairs = (
        [(i, i + 1) for i in range(10)]
        + [(50, j) for j in range(51, 60)]
        + [(3, 2), (2, 3), (55, 50)]
    )
    star = _wcc(spark, pairs)
    edges = spark.createDataFrame(pairs, "src long, dst long")
    pj = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert star == pj


def test_wcc_star_chain_converges_in_log_rounds(spark):
    """Star contraction is O(log n) rounds on the chain — the shape
    that defeats diameter-bounded propagation.  1024-node chain must
    converge well within 16 alternating rounds."""
    n = 1024
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "s long, d long"
    )
    got = {
        r["id"]: r["component"]
        for r in wcc_star(edges, max_rounds=16).collect()
    }
    assert len(got) == n + 1
    assert set(got.values()) == {0}


def test_wcc_star_max_rounds_raises(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "s long, d long"
    )
    with pytest.raises(ValueError):
        wcc_star(edges, max_rounds=1)


def test_wcc_star_self_loops_and_singletons(spark):
    # a node with ONLY a self-loop is its own component, as in the
    # recursive-CTE oracles and connected_components; a self-loop on a
    # node with other edges does not change its component
    got = _wcc(spark, [(7, 7), (1, 2), (2, 2)])
    assert got == {7: 7, 1: 1, 2: 1}


def test_reliable_checkpoint_path_matches_local(spark, tmp_path):
    """With spark.sec_edgar.checkpoint_dir set, every lineage cut uses
    reliable checkpoint() (survives executor loss on a real cluster);
    results must be bit-identical to the default localCheckpoint path,
    and the directory must actually receive checkpoint data."""
    import os

    from sec_edgar_spark.operators._lineage import CHECKPOINT_DIR_CONF
    from sec_edgar_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)] + [(100, 101), (101, 102)],
        "src long, dst long",
    )
    local = sorted(
        (r.id, r.component) for r in connected_components(edges).collect()
    )
    ckpt = str(tmp_path / "reliable_ckpt")
    spark.conf.set(CHECKPOINT_DIR_CONF, ckpt)
    try:
        reliable = sorted(
            (r.id, r.component)
            for r in connected_components(edges).collect()
        )
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert reliable == local and local
    # the reliable path really wrote checkpoint data under the conf dir
    rdd_dirs = [
        os.path.join(dp, f)
        for dp, dns, fns in os.walk(ckpt)
        for f in fns
    ]
    assert rdd_dirs, "no checkpoint files written under checkpoint_dir"


def test_lineage_cut_local_only_ignores_checkpoint_conf(spark, tmp_path):
    """local_only=True must localCheckpoint even when the reliable conf
    is set — the per-micro-batch streaming path (scd_stream) would
    otherwise write a full dimension copy per batch, forever."""
    import os

    from sec_edgar_spark.operators._lineage import (
        CHECKPOINT_DIR_CONF,
        lineage_cut,
    )

    df = spark.createDataFrame([(i,) for i in range(10)], "x long")
    ckpt = str(tmp_path / "never_used_ckpt")
    spark.conf.set(CHECKPOINT_DIR_CONF, ckpt)
    try:
        out = lineage_cut(df, local_only=True)
        assert out.count() == 10
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    written = [
        f for dp, dns, fns in os.walk(ckpt) for f in fns
    ] if os.path.isdir(ckpt) else []
    assert not written, "local_only path wrote reliable checkpoint data"
