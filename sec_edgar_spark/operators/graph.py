"""Graph operators over an edge list.

- :func:`connected_components` — reachability by label propagation
  (dedup and curation clusters); :func:`canonical_assignment` reads
  it.  :func:`wcc_star` computes the same rows by star contraction,
  which wins where dense clusters shrink its working set (trade-graph
  WCC, entity groups; measured in its docstring).
- :func:`label_propagation` — communities.
- :func:`kcore_fixpoint` — k-core peeling, to the fixpoint or capped
  at a fixed round count.
- :func:`ppr_int` — integer PageRank, personalized to a seed set;
  every node a seed is plain PageRank.

Every operator treats its input as undirected.  All but
:func:`wcc_star` read it through :func:`_symmetric`, which unions both
directions, deduplicates and cuts the lineage once for every round to
read.

Connected components.  After candidate generation + verification
(MinHash-LSH, ngram-Jaccard, SimHash...), near-duplicate PAIRS must
become CLUSTERS so a pipeline can keep one canonical document per
group: pairs (a,b),(b,c) are one 3-document cluster even though (a,c)
never met in any bucket.

Formulation: min-label propagation (hook) + pointer jumping
(compress), the data-parallel Shiloach–Vishkin shape.  Every node
starts labelled with itself; each round, every node (1) takes the min
of its own label and its neighbours' labels, then (2) replaces its
label with its label's label.  The hook step alone converges in
diameter rounds — fine for dedup graphs (dense clusters of copies,
diameter 2-4) but pathological for chain-shaped graphs; the compress
step doubles the distance a label travels per round, so a
diameter-D component converges in O(log D) rounds (a 100k-node chain:
~20 rounds, not 100k — probed in tests/test_graph.py).

Compression preserves the invariant that a node's label is always the
id of some node in its own component and never below the component
min (it jumps to label[label], which is <= label and co-component),
so the fixpoint is still exactly label = component min.  A node whose
only edge is a self-loop is its own component.

Scale shape per round: one shuffle join (labels onto edge endpoints) +
one groupBy(min) for the hook, one self-equi-join for the compress —
all partial-aggregated / hash joins; the driver only runs the
convergence check (a count), never touches row data.  Lineage is cut
every round with lineage_cut (localCheckpoint, or reliable checkpoint
when spark.sec_edgar.checkpoint_dir is set) so plans stay O(1) deep
regardless of iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._lineage import lineage_cut


def _symmetric(
    edges: DataFrame, src: str, dst: str, eager: bool = True
) -> DataFrame:
    """Undirected, deduplicated ``(s, d)`` edge list of ``edges`` (both
    directions of every edge), lineage cut.  ``eager=False`` leaves the
    materialization to the caller's next action."""
    return (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .transform(lambda df: lineage_cut(df, eager=eager))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every node in ``edges``; component = min node
    id reachable.  Deterministic.  Raises if not converged in
    ``max_iter`` rounds (~log2(diameter) + slack needed — raise for
    extreme graphs)."""
    sym = _symmetric(edges, src, dst).toDF("id", "nbr")
    labels = sym.select("id").distinct().select(
        "id", F.col("id").alias("label")
    ).transform(lineage_cut)

    # Loop joins carry an explicit MERGE hint: at corpus scale both
    # sides are node/edge-sized so SMJ is the only sane strategy, but
    # at gate SFs the checkpointed frames carry exact (small) stats and
    # Catalyst auto-broadcasts EVERY ROUND — one driver-side hash-table
    # build per iteration, which is exactly what died first under the
    # 2 GB heap of BENCH_LOWMEM.md (notEnoughMemoryToBuildAndBroadcast
    # in round 2 of this loop).  SMJ spills; per-round broadcasts
    # don't.  The hint makes the tight-heap plan THE plan.
    for _ in range(max_iter):
        nbr_labels = sym.hint("merge").join(
            labels.select(
                F.col("id").alias("nbr"), F.col("label").alias("nbr_label")
            ),
            "nbr",
        )
        pulled = nbr_labels.groupBy("id").agg(F.min("nbr_label").alias("min_nbr"))
        # The round's STARTING label rides along as `old` so the
        # convergence check below is a filter over the checkpointed
        # round output instead of a fourth merge-join of new vs old
        # labels per round (r13, guide §2.4 — one long column through
        # the checkpoint buys one sort-merge join, its two sorts and
        # its exchange, every round).
        hooked = labels.hint("merge").join(pulled, "id", "left").select(
            "id",
            F.col("label").alias("old"),
            F.least(
                F.col("label"), F.coalesce("min_nbr", F.col("label"))
            ).alias("label"),
        )
        # Pointer jumping: label := label[label].  Every label is itself
        # a node id present in `hooked`, so the lookup always hits; the
        # left join + coalesce is belt-and-braces.
        new_labels = (
            hooked.alias("a")
            .hint("merge")
            .join(
                hooked.select(
                    F.col("id").alias("label"), F.col("label").alias("gl")
                ).alias("b"),
                "label",
                "left",
            )
            .select(
                "id",
                "old",
                F.least(F.col("label"), F.coalesce("gl", F.col("label"))).alias(
                    "label"
                ),
            )
            # lazy cut (r13): the changed-count below materializes the
            # round — one job instead of checkpoint + count per round.
            .transform(lambda d: lineage_cut(d, eager=False))
        )
        changed = new_labels.filter(F.col("label") != F.col("old")).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            return labels.select("id", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def canonical_assignment(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(id, component, is_canonical) — dedup decision per clustered doc:
    keep the minimum id of each component, drop the rest."""
    cc = connected_components(edges, src, dst)
    return cc.select(
        "id", "component", (F.col("id") == F.col("component")).alias("is_canonical")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """(id, community) after ``iters`` synchronous label-propagation
    rounds — community detection (dense groups), complementing
    :func:`connected_components` (reachability) and
    :func:`ppr_int` (influence).

    Fully deterministic: each round every node adopts the label that
    is most frequent among its neighbours, ties broken by the SMALLER
    label — an integer argmax with a total order, so the trajectory is
    engine- and partitioning-independent (the oracle unrolls the same
    rounds as SQL CTEs).  Classic async LPA is run-order dependent and
    unverifiable; the synchronous total-ordered form trades a little
    convergence speed for replayability.

    Scale shape per round: one join (labels onto edge destinations) +
    one (node, label) count agg + one per-node top-1 — all hash
    partial-aggregated; WindowGroupLimit keeps the top-1 from sorting
    whole vote lists.  Lineage cut per round with lineage_cut.
    """
    sym = _symmetric(edges, src, dst)
    labels = sym.select(F.col("s").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for _ in range(iters):
        votes = (
            sym.join(
                labels.select(F.col("id").alias("d"), "label"), "d"
            )
            .groupBy(F.col("s").alias("id"), "label")
            .agg(F.count("*").alias("n"))
        )
        w = Window.partitionBy("id").orderBy(F.desc("n"), F.asc("label"))
        labels = (
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("id", "label")
            # lazy cut (r13): one consumer per round, no per-round
            # action — all rounds compute in the final job.
            .transform(lambda d: lineage_cut(d, eager=False))
        )
    return labels.select("id", F.col("label").alias("community"))


def kcore_fixpoint(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    assert_rounds: int | None = None,
) -> DataFrame:
    """k-core peeling over an undirected edge list ``(s, d)``: each
    synchronous round drops every node whose CURRENT degree is below
    ``k`` (and the edges touching it), simultaneously, until a round
    drops nothing (the fixpoint: the exact k-core) or ``max_rounds``
    rounds have run.  Returns the surviving ``(id, degree)`` frame.

    A small ``max_rounds`` is the fixed-round, engine-replayable form:
    its oracle unrolls the same ``max_rounds`` rounds, and stopping
    early at the fixpoint gives the same rows because a round at the
    fixpoint is the identity.

    ``assert_rounds``: if set, RAISE when convergence needs more than
    this many pruning rounds.  The oracle twin of the gate query
    over-unrolls a fixed number of rounds and relies on idempotence at
    the fixpoint — valid only when convergence depth <= the unroll, so
    the gate query pins the unroll here and a deeper graph fails
    loudly instead of silently diverging from its oracle.

    Scale shape per round: one degree aggregate (map-combined) + two
    semi-joins to keep edges whose BOTH endpoints survive.  The
    driver-side loop state is a single edge ``count()`` per round (edge
    count unchanged ⇔ fixpoint, because every node present in the edge
    list has degree ≥ 1, so dropping any node removes ≥ 1 edge), never
    row data.  Each round references the previous survivor set three
    times (degree agg + two semi-join probes), so lineage is cut per
    round with lineage_cut: the unrolled plan would grow ~3^rounds
    (134 Exchanges at 3 rounds), the cut one stays O(1) deep at any
    depth.  Converges in at most |V| rounds; in practice
    degeneracy-ordered graphs finish in <15.
    """
    # the count IS the materialization of every lazy cut here (r13) —
    # one job instead of checkpoint + count; the three next-round
    # consumers then read the materialized partitions.
    und = _symmetric(edges, "s", "d", eager=False)
    n_prev = und.count()
    for rnd in range(1, max_rounds + 1):
        deg = und.groupBy("s").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("s")
        und = (
            und.join(keep, "s", "semi")
            .join(keep.withColumnRenamed("s", "d"), "d", "semi")
        ).transform(lambda d: lineage_cut(d, eager=False))
        n = und.count()
        if n == n_prev:
            break
        # A round that still drops nodes past the pinned unroll means
        # prune^assert_rounds is NOT the fixpoint (a dropping round
        # AT the pin is fine — the pin-th prune may be the last one).
        if assert_rounds is not None and rnd > assert_rounds:
            raise ValueError(
                f"kcore_fixpoint: not converged after {rnd} rounds "
                f"(edge count still dropping {n_prev} -> {n}) but the "
                f"caller pinned assert_rounds={assert_rounds} — its "
                "oracle's fixed unroll no longer reaches the fixpoint; "
                "raise the unroll (and this pin) together"
            )
        n_prev = n
    return und.groupBy(F.col("s").alias("id")).agg(
        F.count("*").alias("degree")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Kiveris large-star: every node connects its STRICTLY LARGER
    neighbours to the minimum of its closed neighbourhood."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    m = F.least(F.col("mv"), F.col("u"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris small-star over ``_large_star``'s output: every node
    connects its smaller-or-equal neighbourhood (itself included) to
    that neighbourhood's minimum.

    The input must already be oriented (u > v on every row) and
    distinct, which ``_large_star`` output provably is: its rows are
    (old_v, m) with m = least(min_nbr, old_u) <= old_u < old_v, and it
    ends in its own ``.distinct()``.  Fusing small∘large on that proof
    drops the orient+distinct exchange, one |E|-row shuffle per WCC
    round.
    """
    oriented = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    mins = oriented.groupBy("a").agg(F.min("b").alias("mb"))
    joined = oriented.join(mins, "a")
    kids = joined.filter(F.col("b") != F.col("mb")).select(
        F.col("b").alias("u"), F.col("mb").alias("v")
    )
    selfs = mins.select(F.col("a").alias("u"), F.col("mb").alias("v"))
    return kids.unionByName(selfs).distinct()


def wcc_star(
    edges: DataFrame,
    src: str = "s",
    dst: str = "d",
    max_rounds: int = 50,
) -> DataFrame:
    """(id, component) via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the shuffle-optimal WCC for MapReduce-shaped engines.

    Why a second CC alongside :func:`connected_components`:
    Shiloach–Vishkin keeps a LABEL TABLE joined against the edge list
    every round, so each round shuffles |E| + |V| rows no matter how
    far convergence has progressed.  Star contraction rewrites the
    EDGE LIST itself toward a forest of stars — the working set
    SHRINKS every round (each large-star hooks whole neighbourhoods
    onto local minima), which is the property that matters at 100 TB:
    late rounds touch a fraction of the original edges.  Convergence
    is O(log² n) rounds worst-case, O(log n) in practice.  Measured at
    sf1 on 4 cores, the accepted-pairs graph of er_entity_groups (1.4M
    edges in dense clusters) took 9.5-11.9 s here against 11.2-16.3 s
    in the label-table form, and the whole query 17.3-19.6 s against
    22.2-28.3 s; on the sf0.1 trade graph the two query walls overlap.

    Both star ops are min-AGGREGATES joined back on the grouping key —
    partial-aggregated, combiner-friendly, skew-safe (a hub node's min
    is computed map-side; no per-key buffer, unlike a collect_list
    formulation).  The driver's loop state per round is one count plus
    one anti-join isEmpty over just-checkpointed partitions — both
    edge lists are distinct, so equal counts + (new ⊆ old) <=> the
    edge SET is stable, no row data ever reaches the driver; lineage
    is cut per round with lineage_cut so the executed plan stays
    O(1) deep.

    At the fixpoint the edge list IS the assignment: every edge is
    (node, component-min) and every center is its component's min, so
    the result needs no extra propagation pass.
    """
    base = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .transform(lambda d: lineage_cut(d, eager=False))
    )
    e = base.filter(F.col("u") != F.col("v"))
    n_prev = -1
    for _ in range(max_rounds):
        prev_e = e
        # Lazy cut + immediate count (r13): the count IS the round's
        # materialization, so each round runs ONE job instead of a
        # checkpoint job followed by a count job; the plan is still
        # truncated at build time.
        e = _small_star(_large_star(e)).transform(
            lambda d: lineage_cut(d, eager=False)
        )
        n = e.count()
        if n == n_prev and e.join(prev_e, ["u", "v"], "left_anti").isEmpty():
            break
        n_prev = n
    else:
        raise ValueError(
            f"wcc_star: not converged after {max_rounds} rounds"
        )
    # Every edge (u, v) is (node, component-min), every center v is its
    # own min, and a node whose only edge is a self-loop is its own
    # component (the recursive-CTE oracles seed reach with (s, s)).  A
    # node is never smaller than its component's min, so min() keeps
    # the real component of a self-loop node that has other edges too.
    return (
        e.unionByName(e.select(F.col("v").alias("u"), "v"))
        .unionByName(base.filter(F.col("u") == F.col("v")))
        .groupBy(F.col("u").alias("id"))
        .agg(F.min("v").alias("component"))
    )


def ppr_int(
    edges: DataFrame,
    is_seed,
    iters: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """(id, rank) after ``iters`` synchronous personalized-PageRank
    rounds in integer micro-units (rank mass ``scale`` split over the
    seed set), so the result is bit-identical across engines and
    cluster layouts — no floating-point sum-order sensitivity, which is
    what makes iterative rank scores normally impossible to
    value-check distributively.

    ``is_seed`` is a Column-builder ``id_col -> BooleanColumn``
    evaluated as a pure expression, so the seed set is plan-replayable
    by an oracle.  ALL teleport mass and all initial mass go to the
    seeds: the result ranks nodes by proximity to the seeds (the random
    surfer restarts AT a seed), the standard similarity-to-a-set score
    behind "more like these" retrieval and seed-expansion labeling.
    ``lambda c: F.lit(True)`` makes every node a seed, which is plain
    PageRank.

    Arithmetic per round, with S the seed count (all non-negative
    BIGINT, overflow-safe for scale<=1e12 since 85*sum_contrib <=
    85*scale ~ 8.5e13 << 2^63):
        rank0(u)    = scale div S            if u is a seed, else 0
        contrib(v)  = rank(v) div out_deg(v)
        rank'(u)    = (15*scale div 100) div S   if u is a seed, else 0
                      + (85 * sum_{v->u} contrib(v)) div 100
    Dangling nodes never exist because the input is symmetrized (and
    deduplicated) internally — the standard undirected-PageRank
    formulation for influence scoring on similarity/co-occurrence
    graphs; passing already-symmetric edges is a no-op.  A directed
    formulation would silently leak rank mass at dst-only nodes.  Mass
    is conserved in integer units, floor-division dust excepted.

    Scale shape per round: one shuffle join (ranks onto edge sources,
    partitioned by node id) + one partial-aggregated groupBy(dst) —
    the same as :func:`connected_components`'s hook step; lineage cut
    per round.  The driver never sees row data.
    """
    sym = _symmetric(edges, edges.columns[0], edges.columns[1])
    deg = sym.groupBy("s").agg(F.count("*").alias("deg"))
    nodes = (
        sym.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("seed", is_seed(F.col("id")))
        .transform(lineage_cut)
    )
    ns = nodes.filter(F.col("seed")).count()
    if ns == 0:
        return nodes.select("id", F.lit(0).cast("bigint").alias("rank"))
    tele = (15 * scale // 100) // ns
    r0 = scale // ns
    ranks = nodes.select(
        "id",
        F.when(F.col("seed"), F.lit(r0)).otherwise(F.lit(0))
        .cast("bigint")
        .alias("rank"),
    )
    for _ in range(iters):
        contrib = (
            ranks.join(deg, ranks["id"] == deg["s"])
            .select(ranks["id"].alias("cid"),
                    F.expr("rank DIV deg").alias("contrib"))
        )
        inflow = (
            sym.join(contrib, sym["s"] == F.col("cid"))
            .groupBy("d")
            .agg(F.sum("contrib").alias("s_in"))
        )
        ranks = (
            nodes.join(inflow, nodes["id"] == inflow["d"], "left")
            .select(
                "id",
                (
                    F.when(F.col("seed"), F.lit(tele)).otherwise(F.lit(0))
                    + F.expr("85 * COALESCE(s_in, 0) DIV 100")
                )
                .cast("bigint")
                .alias("rank"),
            )
            # lazy cut (r13): fixed-iteration loop with no per-round
            # action and ONE consumer of each round's output — the
            # final action computes the whole chain in one job while
            # the plan stays truncated per round.
            .transform(lambda d: lineage_cut(d, eager=False))
        )
    return ranks
