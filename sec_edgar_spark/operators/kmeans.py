"""Deterministic fixed-point k-means (Lloyd iterations) — the training
pass behind data-adaptive IVF cells and embedding-space clustering.

Floating-point k-means is not reproducible across engines or even
across partitionings (mean updates sum doubles in nondeterministic
order).  This operator quantizes vectors to a 2^20 fixed-point grid and
runs the ENTIRE loop in 64-bit integers:

- quantize: q_i = floor(x_i * 2^20 + 0.5)  (floor-based half-up, no
  round() tie ambiguity)
- init: the k vectors with the smallest md5 of their id (deterministic,
  shuffle-free top-k)
- assign: argmin over integer squared distances, ties to the lowest
  cell id
- update: per-dim integer mean  sum div count  (exact, order-free)

Every quantity is an exact integer, so assignments and centroids are
bit-identical on any engine, any partitioning, any aggregation order —
a DuckDB oracle replays the whole training loop and value-matches.

Scale shape per iteration: centroids are a k-row frame that BROADCASTS
to the assignment join (the corpus never shuffles for assignment); the
update is a posexplode → (cell, pos) partial-aggregated groupBy — the
identical shape as operators/similarity.mean_pool.  Bounds: |x| < 2^10
keeps q in 2^30; squared diffs * dims stay < 2^63 up to ~8k dims.

The argmin stays a Catalyst expression.  A NumPy ArrowEvalPython
argmin over the driver-collected codebook runs the assignment stage
faster, but it needs one Spark job per Lloyd pass to collect that
codebook, and at sf0.1 on local[4] it lost end to end on three of the
four trainer queries (CHANGES.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

QSCALE = 1 << 20

def quantize_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, qv: array<long>) fixed-point vectors."""
    qv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * QSCALE + 0.5).cast("long"),
    )
    return df.select(F.col(id_col).alias("id"), qv.alias("qv"))


def _sqdist(a, b):
    prods = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(prods, F.lit(0).cast("long"), lambda s, p: s + p)


def _argmin_cell(cents: DataFrame):
    """Nearest-centroid assignment as a MAP-ONLY expression (r13,
    guide §2.4): collapse the k-row centroid frame to ONE broadcast
    row holding array<struct(cell, cv)>, and compute the argmin per
    data row with array_min over struct(d², cell) — lexicographic
    struct ordering gives "nearest, ties to lowest cell id", exactly
    the min(struct(d, cell)) hash agg this replaces.  What it removes,
    per assignment pass: the k× crossJoin row fan-out and the
    groupBy(id) exchange+aggregate that un-fanned it (each data row
    carried its full qv array through that agg via first(qv)).
    array_min is order-free, so the nondeterministic collect_list
    order cannot affect the result.

    Returns (carr, expr): crossJoin ``F.broadcast(carr)`` onto the
    quantized frame and select ``expr.alias("cell")``.
    """
    carr = cents.agg(
        F.collect_list(F.struct("cell", "cv")).alias("_cs")
    )
    m = F.array_min(
        F.transform(
            "_cs",
            lambda c: F.struct(
                _sqdist(F.col("qv"), c["cv"]).alias("d"),
                c["cell"].alias("cell"),
            ),
        )
    )
    return carr, m["cell"]


def _argmin_cell_grouped(cents: DataFrame):
    """Grouped twin of ``_argmin_cell`` over ``(g, cell, cv)``: one
    array<struct(cell, cv)> row per g.  Returns (carr_g, expr): join
    ``F.broadcast(carr_g)`` on ``g`` and select ``expr.alias("cell")``."""
    carr_g = cents.groupBy("g").agg(
        F.collect_list(F.struct("cell", "cv")).alias("_cs")
    )
    m = F.array_min(
        F.transform(
            "_cs",
            lambda c: F.struct(
                _sqdist(F.col("qv"), c["cv"]).alias("d"),
                c["cell"].alias("cell"),
            ),
        )
    )
    return carr_g, m["cell"]


def lloyd_fit(q: DataFrame, k: int, n_iter: int) -> DataFrame:
    """Run ``n_iter`` integer Lloyd iterations over a quantized
    ``(id, qv)`` frame; returns the trained centroids ``(cell, cv)``
    (k rows — always broadcast-sized)."""
    init_key = F.md5(F.concat(F.lit("c:"), F.col("id").cast("string")))
    seeds = q.select("id", "qv", init_key.alias("ik")).orderBy("ik", "id").limit(k)
    cents = seeds.select(
        (
            F.row_number().over(Window.orderBy("ik", "id")) - 1
        ).cast("bigint").alias("cell"),
        F.col("qv").alias("cv"),
    )
    for _ in range(n_iter):
        # Assignment is the map-only argmin over the broadcast
        # centroid array (_argmin_cell, r13) — zero shuffle per pass;
        # the previous crossJoin + groupBy(id) hash agg paid a k× row
        # fan-out and an exchange of every qv array per iteration.
        carr, cell_expr = _argmin_cell(cents)
        assigned = (
            q.crossJoin(broadcast(carr))
            .select("id", "qv", cell_expr.alias("cell"))
        )
        per_pos = assigned.select(
            "cell", F.posexplode("qv").alias("pos", "x")
        ).groupBy("cell", "pos").agg(
            F.sum("x").alias("s"), F.count("*").alias("n")
        )
        cents = (
            per_pos.select(
                "cell", "pos", F.expr("s div n").alias("m")
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda st: st.getField("m"),
                ).alias("cv")
            )
        )
    return cents


def assign_cells(q: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment ``(id, cell)`` — integer argmin,
    ties to the lowest cell id, as the map-only broadcast-array
    argmin (``_argmin_cell``; identical results to the former
    min(struct(d², cell)) hash agg, with the k× fan-out and the
    groupBy(id) exchange removed)."""
    carr, cell_expr = _argmin_cell(cents)
    return (
        q.crossJoin(broadcast(carr))
        .select("id", cell_expr.alias("cell"))
    )


def kmeans_fit_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    n_iter: int = 2,
) -> DataFrame:
    """(id, cell) after ``n_iter`` Lloyd iterations from the md5-min
    init.  Fully deterministic (see module docstring)."""
    q = quantize_vectors(df, id_col, vec_col)
    return assign_cells(q, lloyd_fit(q, k, n_iter))


def lloyd_fit_grouped(qg: DataFrame, k: int, n_iter: int) -> DataFrame:
    """Independent Lloyd loops for every group in ONE plan.

    ``qg`` is ``(g, id, qv)``; returns ``(g, cell, cv)`` — per-group
    trained centroids, bit-identical to running ``lloyd_fit`` on each
    group separately: the md5 init key depends only on ``id``, so
    every group seeds from the same k ids with the same cell
    numbering, and assignment/update math is per-group throughout.

    Why it exists: M separate ``lloyd_fit`` calls build M deep plan
    trees analyzed independently driver-side and executed as M job
    chains (PQ trainer measured: first-run 16.4s -> 12.2s, steady
    6.0s -> 5.6s at sf0.1 after collapsing to this single keyed
    loop); executor-side the keyed shapes are the same aggs with
    ``g`` prepended to every key, so results are bit-identical.
    """
    init_key = F.md5(F.concat(F.lit("c:"), F.col("id").cast("string")))
    seed_ids = (
        qg.select("id")
        .distinct()
        .select("id", init_key.alias("ik"))
        .orderBy("ik", "id")
        .limit(k)
        .select(
            "id",
            (F.row_number().over(Window.orderBy("ik", "id")) - 1)
            .cast("bigint")
            .alias("cell"),
        )
    )
    cents = qg.join(broadcast(seed_ids), "id").select(
        "g", "cell", F.col("qv").alias("cv")
    )
    for _ in range(n_iter):
        # Map-only grouped argmin (r13, same move as _argmin_cell):
        # per-group centroids collapse to one array row per g, the
        # equi-join on g broadcasts M rows, and the argmin runs as an
        # expression — no k× fan-out, no (g, id) exchange per pass.
        carr_g, cell_expr = _argmin_cell_grouped(cents)
        assigned = (
            qg.join(broadcast(carr_g), "g")
            .select("g", "id", "qv", cell_expr.alias("cell"))
        )
        per_pos = assigned.select(
            "g", "cell", F.posexplode("qv").alias("pos", "x")
        ).groupBy("g", "cell", "pos").agg(
            F.sum("x").alias("s"), F.count("*").alias("n")
        )
        cents = (
            per_pos.select(
                "g", "cell", "pos", F.expr("s div n").alias("m")
            )
            .groupBy("g", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda st: st.getField("m"),
                ).alias("cv")
            )
        )
    return cents


def assign_cells_grouped(qg: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-group nearest-centroid assignment ``(g, id, cell)`` —
    grouped twin of ``assign_cells`` (map-only broadcast-array argmin,
    identical results to the former min-struct hash agg)."""
    carr_g, cell_expr = _argmin_cell_grouped(cents)
    return (
        qg.join(broadcast(carr_g), "g")
        .select("g", "id", cell_expr.alias("cell"))
    )
