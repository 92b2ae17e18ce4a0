"""Similarity search over the embeddings table (array<float> column).

- brute-force cosine top-k: the correctness baseline.  Queries (a small
  fixed set) broadcast against the corpus; per-query top-k via window.
- LSH-bucketed variant: sign-bit random-projection buckets prune the
  corpus before exact scoring — the 100 TB path (bucket-equi-join
  instead of full cross product).

Dot products fold left-to-right in double precision (functions/
vectors.py), matching the oracle's explicit left-associated sum, so
scores hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.functions import broadcast

from ..catalog import table
from ..functions import vectors as V
from .registry import query

EMB_DIM = 64
N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10


def _lsh_planes() -> list[list[float]]:
    """8 fixed gaussian hyperplanes, seed 42 — shared verbatim by the
    Spark expression and the generated oracle SQL."""
    import random

    rng = random.Random(42)
    return [[rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(8)]


LSH_PLANES = _lsh_planes()

# POISON.md — the embedding intake validity contract.  Every SCORING /
# CLUSTERING query below consumes only valid vectors (non-NULL, all
# elements finite with |x| <= 1e6, at least one nonzero element): a
# zero vector divides by zero in cosine, NaN poisons every score and
# breaks cross-engine ordering, and garbage magnitudes overflow int64
# quantization grids.  The two AUDIT queries (emb_norm_outliers,
# emb_dim_variance_audit) intentionally stay UNGATED — counting the
# violations is their job.  Spark side: functions/vectors.is_valid
# (identical clause-for-clause; parity asserted in
# tests/test_emb_validity.py).
EMB_VALID_WHERE = (
    "embedding IS NOT NULL AND len(list_filter(embedding,"
    " x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0"
    " AND len(list_filter(embedding, x -> x <> 0)) > 0"
)
_EMBV = f"(SELECT * FROM embeddings WHERE {EMB_VALID_WHERE})"


def _emb(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    """The embeddings table under the validity gate (see EMB_VALID_WHERE)."""
    return table(spark, sf_dir, "embeddings", spread).filter(V.is_valid("embedding"))


def _dot_sql(a: str, b: str) -> str:
    """Left-associated explicit dot product (matches the Spark fold)."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, EMB_DIM + 1)
    )
    return f"(0.0 + {terms})"


_COSINE_SQL = (
    f"{_dot_sql('q.embedding', 'c.embedding')} / "
    f"(sqrt({_dot_sql('q.embedding', 'q.embedding')}) * "
    f"sqrt({_dot_sql('c.embedding', 'c.embedding')}))"
)


@query(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label, embedding,
        sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM {_EMBV} embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
        {_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, label, cosine, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set against the
    corpus scan, score JVM-side, take per-query top-k via window (ties
    broken by neighbor_id).  At scale: queries always broadcast; the
    corpus is never shuffled — only (n_queries × k) rows survive."""
    e = _emb(spark, sf_dir, spread=True)
    # Precompute each vector's norm ONCE in a projection — computing it
    # inside the pair expression multiplies the fold by the pair count.
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        V.norm("embedding").alias("q_nrm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").alias("c_emb"),
        V.norm("embedding").alias("c_nrm"),
    )
    scored = (
        c.join(broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "label",
            (V.dot("q_emb", "c_emb") / (F.col("q_nrm") * F.col("c_nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TOP_K)
    )


@query(
    "ann_quantized_bucket_join",
    oracle=f"""
    WITH keyed AS (
      SELECT vec_id, label,
        CAST(round(CAST(embedding[1] AS DOUBLE) * 2) AS BIGINT) AS b1,
        CAST(round(CAST(embedding[2] AS DOUBLE) * 2) AS BIGINT) AS b2,
        CAST(round(CAST(embedding[3] AS DOUBLE) * 2) AS BIGINT) AS b3
      FROM {_EMBV} embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.b1, a.b2, a.b3
    FROM keyed a JOIN keyed b
      ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.b3 = b.b3 AND a.vec_id < b.vec_id
    """,
)
def ann_quantized_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-quantization candidate generation: coarse-quantize the first
    3 dims → equi-join on the bucket key.  The equi-join (not a cross
    product) is what survives 100 TB; the exact re-score of candidates is
    ann_bruteforce_topk's scoring stage applied to this pair set."""
    e = _emb(spark, sf_dir)
    emb = V.as_double("embedding")
    keyed = e.select(
        "vec_id",
        "label",
        *[
            F.round(F.element_at(emb, i) * 2).cast("bigint").alias(f"b{i}")
            for i in (1, 2, 3)
        ],
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return a.join(
        b,
        (F.col("a.b1") == F.col("b.b1"))
        & (F.col("a.b2") == F.col("b.b2"))
        & (F.col("a.b3") == F.col("b.b3"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.b1").alias("b1"),
        F.col("a.b2").alias("b2"),
        F.col("a.b3").alias("b3"),
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM {_EMBV} embeddings
    )
    SELECT vec_a, vec_b, cosine FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        {_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cosine
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
    ) WHERE cosine >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, threshold 0.45).

    Delegates to ``cosine_threshold_pairs``: block-partitioned pair
    enumeration (B(B+1)/2 bounded equi-join tasks, each holding O(n/B)
    rows) instead of a corpus-sized broadcast + theta join — the
    BroadcastNestedLoopJoin the naive formulation produces OOMs at
    scale.  The O(n^2) scoring is inherent to an exact moderate
    threshold; the block join makes it shuffle-bounded, not
    memory-bounded.  Scoring expression is identical to the oracle's.
    """
    from ..operators.similarity import cosine_threshold_pairs

    e = _emb(spark, sf_dir)
    pairs = cosine_threshold_pairs(
        e, threshold=0.45, id_col="vec_id", vec_col="embedding", n_blocks=8
    )
    return pairs.select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        "cosine",
    )


def _plane_dot_sql(vec: str, plane: list[float]) -> str:
    """Left-associated dot of a column vector with literal plane floats
    (repr() round-trips doubles exactly in both engines)."""
    terms = " + ".join(
        f"CAST({vec}[{i+1}] AS DOUBLE) * {plane[i]!r}" for i in range(EMB_DIM)
    )
    return f"(0.0 + {terms})"


def _bucket_sql(vec: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_plane_dot_sql(vec, p)} >= 0 THEN {2**b} ELSE 0 END)"
        for b, p in enumerate(LSH_PLANES)
    )
    return f"CAST({bits} AS BIGINT)"


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH keyed AS (
      SELECT vec_id, embedding,
        sqrt({_dot_sql('embedding', 'embedding')}) AS nrm,
        {_bucket_sql('embedding')} AS bucket
      FROM {_EMBV} embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        {_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
      FROM keyed q JOIN keyed c
        ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit random-projection LSH: 8 fixed hyperplanes → 256 buckets;
    exact cosine only within the query's bucket.  The scale path: bucket
    key is a pure expression, candidate generation is an equi-join.
    Plane constants are inlined into the oracle SQL, so even the
    approximate path is value-checked."""
    from ..operators.similarity import lsh_bucketed_topk

    e = _emb(spark, sf_dir, spread=True)
    return lsh_bucketed_topk(
        e, e.filter(F.col("vec_id") < N_QUERIES), LSH_PLANES, k=TOP_K
    ).select("query_id", "neighbor_id", "cosine", "rk")


def _ivf_centroids() -> list[list[float]]:
    """8 fixed pseudo-centroids, seed 7 — a deterministic stand-in for
    a k-means training pass, shared verbatim with the oracle SQL (a
    real deployment would persist trained centroids and inline them
    the same way)."""
    import random

    rng = random.Random(7)
    return [[rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(8)]


IVF_CENTROIDS = _ivf_centroids()


def _cell_sql(vec: str) -> str:
    dots = ", ".join(_plane_dot_sql(vec, c) for c in IVF_CENTROIDS)
    return (
        f"CAST(list_position([{dots}], "
        f"list_aggregate([{dots}], 'max')) AS BIGINT)"
    )


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH keyed AS (
      SELECT vec_id, embedding,
        sqrt({_dot_sql('embedding', 'embedding')}) AS nrm,
        {_cell_sql('embedding')} AS cell
      FROM {_EMBV} embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        {_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
      FROM keyed q JOIN keyed c
        ON q.cell = c.cell AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k: coarse-quantize every vector to
    its nearest of 8 fixed centroids, exact cosine only within the
    query's cell.  Data-adaptive counterpart to ann_lsh_topk; centroid
    constants are inlined into the oracle SQL so the approximate path
    is value-checked end-to-end."""
    from ..operators.similarity import ivf_bucketed_topk

    e = _emb(spark, sf_dir, spread=True)
    return ivf_bucketed_topk(
        e, e.filter(F.col("vec_id") < N_QUERIES), IVF_CENTROIDS, k=TOP_K
    ).select("query_id", "neighbor_id", "cosine", "rk")


@query(
    "emb_normalize_pool",
    oracle=f"""
    WITH nrm AS (
      SELECT vec_id, label, embedding,
        greatest(sqrt({_dot_sql('embedding', 'embedding')}), 1e-12) AS n
      FROM {_EMBV} embeddings
    ), unit AS (
      SELECT vec_id, label,
        list_transform(embedding, x -> CAST(x AS DOUBLE) / n) AS u
      FROM nrm
    ), exploded AS (
      SELECT label, ui.i AS pos, u[ui.i] AS x
      FROM unit, (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) ui(i)
    ), pooled AS (
      SELECT label, pos, SUM(x) / COUNT(*) AS m
      FROM exploded GROUP BY label, pos
    )
    SELECT label,
      round(CAST(SUM(m * m) AS DOUBLE), 9) AS pooled_sq_norm,
      CAST(COUNT(*) AS BIGINT) AS dim
    FROM pooled GROUP BY label
    """,
)
def emb_normalize_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene pipeline on the gate: L2-normalize every
    vector (codegen'd transform), mean-pool per label (posexplode →
    per-position partial sums — map-combinable, no group's vectors
    ever colocated in one row), report the pooled vector's squared
    norm per label.  Float-stable cross-engine because the per-position
    sums add in deterministic groups."""
    from ..operators.similarity import l2_normalize, mean_pool

    e = _emb(spark, sf_dir).select(
        "label", l2_normalize("embedding").alias("embedding")
    )
    pooled = mean_pool(e, "label")
    sq = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    # Rounded to 9 decimals: the per-position partial sums add in
    # shuffle order, so the two engines drift at ~1e-17 — rounding
    # makes the float column hash-stable without hiding real error.
    return pooled.select(
        "label",
        F.round(sq, 9).alias("pooled_sq_norm"),
        F.size("embedding").cast("bigint").alias("dim"),
    )


def _absmax_sql(vec: str) -> str:
    """Left-associated running max of |vec[i]| (matches F.aggregate
    greatest fold)."""
    expr = "0.0"
    for i in range(1, EMB_DIM + 1):
        expr = f"greatest({expr}, abs(CAST({vec}[{i}] AS DOUBLE)))"
    return expr


@query(
    "emb_quantize_int8",
    oracle=f"""
    WITH scaled AS (
      SELECT vec_id, embedding,
        127.0 / greatest({_absmax_sql('embedding')}, 1e-12) AS scale
      FROM {_EMBV} embeddings
    )
    SELECT vec_id, scale,
      CAST(floor(CAST(embedding[1] AS DOUBLE) * scale + 0.5) AS INT) AS q1,
      CAST(floor(CAST(embedding[2] AS DOUBLE) * scale + 0.5) AS INT) AS q2,
      CAST(floor(CAST(embedding[3] AS DOUBLE) * scale + 0.5) AS INT) AS q3,
      (0.0 + {" + ".join(
        f"(CAST(embedding[{i}] AS DOUBLE) - "
        f"floor(CAST(embedding[{i}] AS DOUBLE) * scale + 0.5) / scale) "
        f"* (CAST(embedding[{i}] AS DOUBLE) - "
        f"floor(CAST(embedding[{i}] AS DOUBLE) * scale + 0.5) / scale)"
        for i in range(1, 4)
      )}) AS mse3
    FROM scaled
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector absmax int8 quantization — the storage format that
    makes a 100 TB embedding corpus a 25 TB one.  scale = 127/max|x|;
    q_i = floor(x_i*scale + 0.5) (floor-based half-up: identical on
    every engine, unlike round()'s tie conventions); reconstruction is
    q_i/scale.

    The gate row exposes the first 3 quantized lanes plus their
    reconstruction squared-error sum (left-associated, so DuckDB
    reproduces every double bit-for-bit); the full quantized array is
    the same ``transform`` without the projection.  All expressions
    are per-row codegen'd math over the scan — a pure map stage.
    """
    e = _emb(spark, sf_dir, spread=True)
    emb = V.as_double("embedding")
    absmax = F.aggregate(
        emb, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = F.lit(127.0) / F.greatest(absmax, F.lit(1e-12))
    scaled = e.select("vec_id", "embedding", scale.alias("scale"))

    def lane(i: int):
        x = F.element_at(V.as_double("embedding"), i)
        return F.floor(x * F.col("scale") + F.lit(0.5)).cast("int")

    def err(i: int):
        x = F.element_at(V.as_double("embedding"), i)
        rec = F.floor(x * F.col("scale") + F.lit(0.5)) / F.col("scale")
        return (x - rec) * (x - rec)

    mse3 = F.lit(0.0)
    for i in (1, 2, 3):
        mse3 = mse3 + err(i)
    return scaled.select(
        "vec_id",
        "scale",
        lane(1).alias("q1"),
        lane(2).alias("q2"),
        lane(3).alias("q3"),
        mse3.alias("mse3"),
    )


def _kmeans_cte(k: int = 4, n_iter: int = 2) -> str:
    """CTE chain replaying the fixed-point Lloyd loop, ending with
    ``kassign (id, cell)`` — possible only because every quantity is an
    exact integer (see operators/kmeans.py)."""
    d = EMB_DIM
    dist = (
        "list_sum(list_transform(range(1, {dp1}), "
        "i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))"
    ).format(dp1=d + 1)
    sql = f"""
    WITH q AS (
      SELECT vec_id AS id,
        list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS qv
      FROM {_EMBV} embeddings
    ), seeds AS (
      SELECT id, qv,
        ROW_NUMBER() OVER (ORDER BY md5('c:' || CAST(id AS VARCHAR)), id) - 1
          AS cell
      FROM q QUALIFY cell < {k}
    ), cents0 AS (
      SELECT CAST(cell AS BIGINT) AS cell, qv AS cv FROM seeds
    )"""
    prev = "cents0"
    for it in range(1, n_iter + 1):
        sql += f""", a{it} AS (
      SELECT id, qv, cell FROM (
        SELECT q.id, q.qv, c.cell,
          ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY {dist}, c.cell) AS rk
        FROM q CROSS JOIN {prev} c
      ) WHERE rk = 1
    ), cents{it} AS (
      SELECT cell, list(m ORDER BY pos) AS cv FROM (
        SELECT cell, i AS pos,
          CAST(SUM(qv[i]) // COUNT(*) AS BIGINT) AS m
        FROM a{it} CROSS JOIN (SELECT unnest(range(1, {d + 1})) AS i)
        GROUP BY cell, i
      ) GROUP BY cell
    )"""
        prev = f"cents{it}"
    sql += f""", kassign AS (
      SELECT id, cell FROM (
        SELECT q.id, c.cell,
          ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY {dist}, c.cell) AS rk
        FROM q CROSS JOIN {prev} c
      ) WHERE rk = 1
    )"""
    return sql


@query(
    "ml_kmeans_assign",
    oracle=_kmeans_cte() + "\n    SELECT id AS vec_id, cell FROM kassign",
)
def ml_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-point k-means (k=4, 2 Lloyd iterations) over
    the embeddings — the training pass that turns the static IVF cells
    into data-adaptive ones.

    Iterative algorithms usually only admit a rows-only check; the
    fixed-point formulation (operators/kmeans.py — quantize to 2^20,
    integer distances, integer mean updates, md5-min init) makes every
    intermediate exact, so the DuckDB oracle replays the ENTIRE
    training loop and the final assignment value-matches bit-for-bit.

    Scale shape: k-row centroid frame broadcasts each iteration (the
    corpus never shuffles for assignment); mean updates are
    posexplode + map-combined partial aggs.
    """
    from ..operators.kmeans import kmeans_fit_assign

    e = _emb(spark, sf_dir, spread=True)
    out = kmeans_fit_assign(e, "vec_id", "embedding", k=4, n_iter=2)
    return out.select(F.col("id").alias("vec_id"), "cell")


@query(
    "ann_ivf_trained",
    oracle=_kmeans_cte(k=8, n_iter=2)
    + f""", keyed AS (
      SELECT e.vec_id, e.embedding,
        sqrt({_dot_sql('e.embedding', 'e.embedding')}) AS nrm, a.cell
      FROM {_EMBV} e JOIN kassign a ON e.vec_id = a.id
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        {_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
      FROM keyed q JOIN keyed c
        ON q.cell = c.cell AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-adaptive IVF end-to-end: TRAIN the coarse quantizer on the
    corpus (deterministic fixed-point k-means, k=8, 2 Lloyd
    iterations), then exact-cosine-score only within each query's
    learned cell — the full production ANN path (train → assign →
    bucketed search), value-checked end-to-end because the training
    loop is integer-exact and the scoring fold is the shared
    left-associated double dot.

    Scale shape: training broadcasts the k-row centroid frame per
    iteration; assignment joins back by id (co-partitioned on vec_id);
    candidate scoring is the same within-cell equi-join as the static
    IVF.
    """
    from ..operators.kmeans import kmeans_fit_assign

    e = _emb(spark, sf_dir, spread=True)
    assign = kmeans_fit_assign(e, "vec_id", "embedding", k=8, n_iter=2)
    # cached: keyed feeds BOTH the broadcast probe side and the
    # candidate side of the within-cell join; uncached, the broadcast
    # subquery job replays the whole k-means training chain a second
    # time (r13 profile: 44.8 s executor time, half of it the twin
    # trainer pass).
    keyed = e.join(
        assign.select(F.col("id").alias("vec_id"), "cell"), "vec_id"
    ).select(
        "vec_id", "embedding", V.norm("embedding").alias("nrm"), "cell"
    ).cache()
    q = keyed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("cell").alias("q_cell"),
    )
    c = keyed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        "cell",
    )
    scored = c.join(
        broadcast(q),
        (F.col("cell") == F.col("q_cell"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "neighbor_id",
        (V.dot("q_emb", "c_emb") / (F.col("q_nrm") * F.col("c_nrm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TOP_K)
    )


def _pq_cte(m: int = 4, k: int = 8, n_iter: int = 2) -> str:
    """CTE chain replaying PQ end-to-end: M per-subspace fixed-point
    k-means loops on vector slices, encoding, the per-query ADC lookup
    table, and the candidate scoring join — mirrors operators/pq.py
    step for step (possible because every quantity is an exact
    integer).  Ends with ``pq_scored (query_id, neighbor_id,
    adc_dist)``."""
    w = EMB_DIM // m
    dist = (
        "list_sum(list_transform(range(1, {wp1}), "
        "i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))"
    ).format(wp1=w + 1)
    sql = f"""
    WITH pqq AS (
      SELECT vec_id AS id,
        list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS qv
      FROM {_EMBV} embeddings
    )"""
    for s in range(m):
        lo, hi = s * w + 1, (s + 1) * w
        sql += f""", s{s} AS (
      SELECT id, list_slice(qv, {lo}, {hi}) AS qv FROM pqq
    ), s{s}_seeds AS (
      SELECT id, qv,
        ROW_NUMBER() OVER (ORDER BY md5('c:' || CAST(id AS VARCHAR)), id) - 1
          AS cell
      FROM s{s} QUALIFY cell < {k}
    ), s{s}_cents0 AS (
      SELECT CAST(cell AS BIGINT) AS cell, qv AS cv FROM s{s}_seeds
    )"""
        prev = f"s{s}_cents0"
        for it in range(1, n_iter + 1):
            sql += f""", s{s}_a{it} AS (
      SELECT id, qv, cell FROM (
        SELECT q.id, q.qv, c.cell,
          ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY {dist}, c.cell) AS rk
        FROM s{s} q CROSS JOIN {prev} c
      ) WHERE rk = 1
    ), s{s}_cents{it} AS (
      SELECT cell, list(mv ORDER BY pos) AS cv FROM (
        SELECT cell, i AS pos,
          CAST(SUM(qv[i]) // COUNT(*) AS BIGINT) AS mv
        FROM s{s}_a{it} CROSS JOIN (SELECT unnest(range(1, {w + 1})) AS i)
        GROUP BY cell, i
      ) GROUP BY cell
    )"""
            prev = f"s{s}_cents{it}"
        sql += f""", s{s}_kassign AS (
      SELECT id, cell FROM (
        SELECT q.id, c.cell,
          ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY {dist}, c.cell) AS rk
        FROM s{s} q CROSS JOIN {prev} c
      ) WHERE rk = 1
    )"""
    codes_union = " UNION ALL ".join(
        f"SELECT id, {s} AS sub, cell AS code FROM s{s}_kassign" for s in range(m)
    )
    books_union = " UNION ALL ".join(
        f"SELECT {s} AS sub, cell AS code, cv FROM s{s}_cents{n_iter}"
        for s in range(m)
    )
    sql += f""", pq_codes AS ({codes_union}
    ), pq_books AS ({books_union}
    ), pq_qsubs AS (
      SELECT id AS query_id, s.sub,
        list_slice(qv, s.sub * {w} + 1, (s.sub + 1) * {w}) AS sq
      FROM pqq CROSS JOIN (SELECT unnest(range(0, {m})) AS sub) s
      WHERE id < {N_QUERIES}
    ), pq_lut AS (
      SELECT qs.query_id, b.sub, b.code,
        list_sum(list_transform(range(1, {w + 1}),
          i -> (qs.sq[i] - b.cv[i]) * (qs.sq[i] - b.cv[i]))) AS pd
      FROM pq_qsubs qs JOIN pq_books b ON qs.sub = b.sub
    ), pq_scored AS (
      SELECT l.query_id, c.id AS neighbor_id,
        CAST(SUM(l.pd) AS BIGINT) AS adc_dist
      FROM pq_codes c JOIN pq_lut l ON c.sub = l.sub AND c.code = l.code
      WHERE c.id <> l.query_id
      GROUP BY 1, 2
    )"""
    return sql


@query(
    "ann_pq_adc_topk",
    oracle=_pq_cte()
    + f"""
    SELECT query_id, neighbor_id, adc_dist, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rk
      FROM pq_scored
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end: train M=4 per-subspace
    codebooks (k=8, 2 integer Lloyd iterations), encode the corpus to
    4 codes/vector, and answer the probe set's top-10 via ADC — the
    compressed-domain search that makes 100 TB embedding corpora fit
    in cluster memory (operators/pq.py).

    The whole pipeline is fixed-point-integer exact, so the DuckDB
    oracle replays training + encoding + the ADC lookup-table join and
    the distances value-match bit-for-bit.

    Scale shape: M independent broadcast-centroid training loops; the
    query LUT (n_queries·M·k rows) broadcasts; candidate scoring is an
    equi-join on (sub, code) + a map-combined sum — the corpus never
    shuffles and no pair ever materializes a vector product.
    """
    from ..operators.pq import pq_adc_topk, pq_train_encode

    e = _emb(spark, sf_dir, spread=True)
    codes, books = pq_train_encode(
        e, "vec_id", "embedding", m=4, k=8, n_iter=2
    )
    queries = e.filter(F.col("vec_id") < N_QUERIES)
    return pq_adc_topk(
        queries, codes, books, "vec_id", "embedding", m=4, top_k=TOP_K
    )


@query(
    "dedup_semantic",
    oracle=_kmeans_cte(k=8, n_iter=2)
    + f""", keyed AS (
      SELECT e.vec_id, e.embedding,
        sqrt({_dot_sql('e.embedding', 'e.embedding')}) AS nrm, a.cell
      FROM {_EMBV} e JOIN kassign a ON e.vec_id = a.id
    )
    SELECT cell, keep_id, drop_id, cosine FROM (
      SELECT a.cell AS cell, a.vec_id AS keep_id, b.vec_id AS drop_id,
        {_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cosine
      FROM keyed a JOIN keyed b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
    ) WHERE cosine >= 0.45
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup-style, Abbas et al. 2023): TRAIN a
    k-means clustering over the embeddings (deterministic fixed-point
    Lloyd, k=8, 2 iterations — operators/kmeans.py), then score cosine
    pairs ONLY within each learned cluster and mark the higher vec_id
    of every >= 0.45 pair as the semantic duplicate to drop.

    vs ``dedup_embedding_cosine`` (exact, O(n²) scoring bounded by the
    block join): the trained clusters prune the pair space to
    Σ_c |c|² — with balanced cells that is n²/k, and at 100 TB k grows
    with the corpus so per-cell candidate sets stay machine-sized.
    This is the production trade: a near-dup pair that lands in two
    different clusters is missed by construction, and the oracle
    replays training + scoring end-to-end so the value check covers
    exactly what the operator claims.

    PAIR-COUNT WARNING: with k fixed, within-cluster scoring is
    Σ_c |c|² — the sf10 bench aborted this query inside one 28-minute
    scoring stage (BENCH_SF10.md).  Stays registered as the
    oracle-exact semantics; the production path is
    dedup_semantic_capped (sub-cell split bounds pair work linearly,
    forfeit observable via dedup_semantic_cap_audit).

    Scale shape: training broadcasts the k-row centroid frame per
    iteration; pair scoring is the cell-keyed cogrouped-Arrow scorer
    (operators/similarity.group_cosine_pairs) — each task gets one
    cell's rows once and scores vectorized, with the dim-major loop
    that is bit-identical to the oracle's element-order fold; zero-
    norm vectors are dropped up front (the round-5 NaN-ordering rule).
    """
    from ..operators.kmeans import kmeans_fit_assign
    from ..operators.similarity import group_cosine_pairs

    e = _emb(spark, sf_dir, spread=True)
    assign = kmeans_fit_assign(e, "vec_id", "embedding", k=8, n_iter=2)
    keyed = e.join(
        assign.select(F.col("id").alias("vec_id"), "cell"), "vec_id"
    ).select("vec_id", "embedding", "cell")
    pairs = group_cosine_pairs(
        keyed, group_col="cell", threshold=0.45,
        id_col="vec_id", vec_col="embedding",
    )
    return pairs.select(
        F.col("g").alias("cell"),
        F.col("id_a").alias("keep_id"),
        F.col("id_b").alias("drop_id"),
        "cosine",
    )


# Sub-cell cap for the scale-safe semantic-dedup twin: clusters above
# this size are split into ceil(n/cap) deterministic sub-cells before
# pair scoring.  512 > the largest learned cluster at every gate SF
# (max 274 at sf0.1), so capped == uncapped on healthy data — the same
# contract as er_match_score_capped's _BLOCK_CAP; on a corpus whose
# clusters outgrow it (sf1 replica: ~2.5k/cluster) the per-task pair
# work is bounded at cap² per sub-cell and TOTAL pair work at
# Σ_c |c|·cap — linear in corpus size — in exchange for forfeiting
# cross-sub-cell pairs (the forfeit is observable:
# dedup_semantic_cap_audit).
_SEM_CAP = 512


def _sem_subsplit(keyed: DataFrame, cap: int) -> DataFrame:
    """Add ``_sub`` ∈ [0, ceil(|cell|/cap)) to a (vec_id, embedding,
    cell) frame: deterministic sub-cell from a Knuth multiplicative
    hash of vec_id, taking the HIGH bits via fixed-point scaling
    (h·n_sub >> 32) — low-bit modulo collapses strided id patterns
    (ids all ≡ 0 mod 2^k land in one sub-cell), high bits stay
    balanced on every stride (measured ≤ ~1.3× ideal on sequential /
    even / ×64 / ×4096 strides).  Pure long arithmetic, overflow-safe
    to 2^63 (ids pre-folded mod 2^31), replayed verbatim by the DuckDB
    oracle; the cluster-size frame is k rows and broadcasts.

    Bound character (VERDICT r11 finding #3, pinned by
    tests/test_sem_subsplit_property.py): the ≤ ~1.5× load bound is
    DISTRIBUTIONAL over natural id families (sequential / strided /
    clustered / low-bit-dense — hypothesis-tested), not structural: a
    fixed public multiplicative hash is invertible, so an adversary
    CHOOSING ids can force one sub-cell (the test constructs that set
    explicitly).  Pipeline-assigned vec_ids are not attacker-chosen;
    if that ever changes, the ``max_subcell_rows`` column of
    ``dedup_semantic_cap_audit`` is the runtime observable that an
    over-full sub-cell exists (same ledger as the forfeit counts),
    and the structural alternative is a rank-based split (exact cap,
    at the price of a per-cell rank pass)."""
    sizes = keyed.groupBy("cell").agg(F.count("*").alias("_n"))
    return keyed.join(broadcast(sizes), "cell").withColumn(
        "_sub",
        F.expr(
            "(pmod(pmod(vec_id, 2147483648) * 2654435761, 4294967296)"
            f" * ((_n + {cap - 1}) DIV {cap})) DIV 4294967296"
        ),
    )


def _sem_capped_oracle(cap: int) -> str:
    return (
        _kmeans_cte(k=8, n_iter=2)
        + f""", keyed AS (
      SELECT e.vec_id, e.embedding,
        sqrt({_dot_sql('e.embedding', 'e.embedding')}) AS nrm, a.cell
      FROM {_EMBV} e JOIN kassign a ON e.vec_id = a.id
    ), sizes AS (
      SELECT cell, COUNT(*) AS n FROM keyed GROUP BY cell
    ), subbed AS (
      SELECT k.vec_id, k.embedding, k.nrm, k.cell,
        ((k.vec_id % 2147483648) * 2654435761 % 4294967296)
          * ((s.n + {cap - 1}) // {cap}) // 4294967296 AS sub
      FROM keyed k JOIN sizes s ON k.cell = s.cell
    )"""
    )


@query(
    "dedup_semantic_capped",
    oracle=_sem_capped_oracle(_SEM_CAP)
    + """
    SELECT cell, sub, keep_id, drop_id, cosine FROM (
      SELECT a.cell AS cell, a.sub AS sub,
        a.vec_id AS keep_id, b.vec_id AS drop_id,
        """
    + _dot_sql("a.embedding", "b.embedding")
    + """ / (a.nrm * b.nrm) AS cosine
      FROM subbed a JOIN subbed b
        ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
    ) WHERE cosine >= 0.45
    """,
)
def dedup_semantic_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE production twin of ``dedup_semantic`` (VERDICT
    r10 #2): same trained k-means clusters, but clusters larger than
    ``_SEM_CAP`` vectors are split into ceil(n/cap) deterministic
    sub-cells (vec_id mod n_sub) and cosine pairs are scored ONLY
    within a sub-cell.

    Why: SemDeDup's within-cluster scoring is Σ_c |c|² pairs — with
    k fixed, a 100× corpus makes every cluster 100× and the pair count
    10,000×; the sf10 bench had to abort dedup_semantic inside one
    28-minute scoring stage (BENCH_SF10.md).  Sub-splitting bounds a
    task at cap² pair evaluations and the job at Σ_c |c|·cap — linear
    in the corpus — the same survival-over-recall contract as
    er_match_score_capped / dedup_prefix_filter_capped: a near-dup
    pair whose members land in different sub-cells is forfeit, and the
    forfeited pair mass is observable (dedup_semantic_cap_audit).  On
    every gate SF the cap does not bind (largest cluster 274 < 512 at
    sf0.1), so capped == uncapped exactly (subset-tested both ways in
    tests/test_semantic_capped.py, sub-split equality property-tested
    with a forced tiny cap).

    Scale shape: training as dedup_semantic (broadcast centroids);
    the k-row cluster-size frame broadcasts; scoring is the same
    cogrouped-Arrow kernel keyed by (cell, sub) — each task gets one
    sub-cell once, never a pair table.
    """
    from ..operators.kmeans import kmeans_fit_assign
    from ..operators.similarity import group_cosine_pairs

    e = _emb(spark, sf_dir, spread=True)
    assign = kmeans_fit_assign(e, "vec_id", "embedding", k=8, n_iter=2)
    keyed = e.join(
        assign.select(F.col("id").alias("vec_id"), "cell"), "vec_id"
    ).select("vec_id", "embedding", "cell")
    cell_dt = dict(keyed.dtypes)["cell"]
    # exact heat dispatch (r13, VERDICT r12 #2): "largest cluster <=
    # cap" proves n_sub = 1 for every cell, hence _sub == 0 for every
    # row (the splitter's fixed-point hash times (n+cap-1) DIV cap = 1
    # lands in [0,1)), so the sizes-join + hash machinery is dead and
    # the uncapped plan emits the same rows the capped oracle computes.
    # Must be exact, not sampled (operators/stats.exact_max_group_rows):
    # a wrong not-hot call would change rows.  Memoized per dataset
    # fingerprint — one probe serves every invocation in a process.
    from ..operators.stats import exact_max_group_rows

    hottest = exact_max_group_rows(
        keyed, "cell", path=f"{sf_dir}/embeddings.parquet", tag="sem_cell"
    )
    # cache AFTER the probe (plan determinism — prefix_filter_join has
    # the full argument: probing through the registered cache
    # materializes it at build time on the first construction only,
    # and Catalyst compiles different plans against materialized vs
    # unregistered cache statistics).  The kmeans train+assign runs
    # once per process for the probe (memoized) and once more when the
    # scoring plan materializes this cache.
    keyed = keyed.cache()
    if hottest <= _SEM_CAP:
        subbed = keyed.withColumn("_sub", F.lit(0).cast("long"))
    else:
        subbed = _sem_subsplit(keyed, _SEM_CAP)
    # composite (cell, sub) group key for the cogrouped scorer; cell is
    # a small cluster index and sub < ceil(n/cap), both far below 2^32,
    # so the pack/unpack is exact long arithmetic
    gk = subbed.withColumn(
        "_g", F.col("cell").cast("long") * F.lit(1 << 32) + F.col("_sub")
    )
    pairs = group_cosine_pairs(
        gk.select("vec_id", "embedding", "_g"),
        group_col="_g",
        threshold=0.45,
        id_col="vec_id",
        vec_col="embedding",
    )
    return pairs.select(
        F.floor(F.col("g") / F.lit(1 << 32)).cast(cell_dt).alias("cell"),
        F.pmod(F.col("g"), F.lit(1 << 32)).alias("sub"),
        F.col("id_a").alias("keep_id"),
        F.col("id_b").alias("drop_id"),
        "cosine",
    )


@query(
    "dedup_semantic_cap_audit",
    oracle=_sem_capped_oracle(_SEM_CAP)
    + """, sub_sizes AS (
      SELECT cell, sub, COUNT(*) AS m FROM subbed GROUP BY cell, sub
    )
    SELECT cell,
      CAST(SUM(m) AS BIGINT) AS n_vectors,
      CAST(COUNT(*) AS BIGINT) AS n_subcells,
      CAST(MAX(m) AS BIGINT) AS max_subcell_rows,
      CAST(SUM(m) * (SUM(m) - 1) // 2 AS BIGINT) AS pairs_possible,
      CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS pairs_scored,
      CAST(SUM(m) * (SUM(m) - 1) // 2 - SUM(m * (m - 1) // 2) AS BIGINT)
        AS pairs_forfeited
    FROM sub_sizes GROUP BY cell
    """,
)
def dedup_semantic_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-forfeit ledger for ``dedup_semantic_capped``: per
    learned cluster, how many candidate pairs the cap's sub-splitting
    skipped — ``pairs_possible`` (the uncapped Σ C(|c|,2) budget),
    ``pairs_scored`` (Σ over sub-cells), and ``pairs_forfeited`` (the
    cross-sub-cell pairs never evaluated).  On gate SFs every row shows
    n_subcells = 1 and pairs_forfeited = 0 (the cap does not bind);
    on a corpus where it binds this is the one-aggregate answer to
    "what did survival cost" — the same observability contract as the
    excluded-block list of er_match_score_capped.

    Counts cover all assigned vectors (zero-norm included: this audits
    the pair BUDGET the splitter allows, not the threshold outcome).
    Pure counting — one vocabulary-shaped aggregate over (cell, sub),
    exact integer arithmetic on both engines.
    """
    from ..operators.kmeans import kmeans_fit_assign

    e = _emb(spark, sf_dir, spread=True)
    assign = kmeans_fit_assign(e, "vec_id", "embedding", k=8, n_iter=2)
    keyed = e.join(
        assign.select(F.col("id").alias("vec_id"), "cell"), "vec_id"
    ).select("vec_id", "embedding", "cell")
    sub_sizes = (
        _sem_subsplit(keyed, _SEM_CAP)
        .groupBy("cell", "_sub")
        .agg(F.count("*").alias("_m"))
    )
    return (
        sub_sizes.groupBy("cell")
        .agg(
            F.sum("_m").cast("bigint").alias("n_vectors"),
            F.count("*").cast("bigint").alias("n_subcells"),
            # r12 (VERDICT r11 finding #3): the splitter's cap is
            # calibrated, not structural — this column makes an
            # over-full sub-cell OBSERVABLE in the same ledger that
            # reports forfeited recall
            F.max("_m").cast("bigint").alias("max_subcell_rows"),
            F.sum(F.expr("_m * (_m - 1) DIV 2")).cast("bigint").alias(
                "pairs_scored"
            ),
        )
        .withColumn(
            "pairs_possible",
            F.expr("n_vectors * (n_vectors - 1) DIV 2").cast("bigint"),
        )
        .withColumn(
            "pairs_forfeited",
            (F.col("pairs_possible") - F.col("pairs_scored")).cast("bigint"),
        )
        .select(
            "cell",
            "n_vectors",
            "n_subcells",
            "max_subcell_rows",
            "pairs_possible",
            "pairs_scored",
            "pairs_forfeited",
        )
    )


def _rp_signs(k: int = 16) -> list[list[int]]:
    """±1 projection matrix (EMB_DIM × k) derived from md5 parity —
    shared verbatim by the Spark expression and the generated oracle
    (same precedent as LSH_PLANES: fixed public constants, not state)."""
    import hashlib

    signs = []
    for i in range(EMB_DIM):
        row = []
        for j in range(k):
            h = hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        signs.append(row)
    return signs


RP_SIGNS = _rp_signs()
RP_K = 16


def _rp_oracle() -> str:
    qv = (
        "list_transform(embedding, x -> "
        "CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT))"
    )
    cols = []
    for j in range(RP_K):
        terms = " + ".join(
            f"qv[{i + 1}] * ({RP_SIGNS[i][j]})" for i in range(EMB_DIM)
        )
        cols.append(f"({terms})")
    arr = ", ".join(cols)
    return f"""
    WITH q AS (
      SELECT vec_id, {qv} AS qv FROM {_EMBV} embeddings
    )
    SELECT vec_id, [{arr}] AS proj FROM q
    """


@query("emb_random_projection", oracle=_rp_oracle())
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project the
    64-dim embeddings to 16 dims with a fixed ±1 (Achlioptas) matrix —
    the cheap pre-step that shrinks ANN/dedup candidate scoring by 4×
    while preserving pairwise distances within the JL bound.

    Engine-exactness: vectors go through the shared 2^20 fixed-point
    grid (operators/kmeans.py quantize rule), the ±1 matrix comes from
    md5 parity (public constant, embedded verbatim in both the Spark
    fold and the oracle SQL), and every projected coordinate is an
    exact int64 sum — no float accumulation anywhere, so the oracle
    value-matches bit-for-bit.  Downstream consumers divide by 2^20
    once when they need doubles.

    Scale shape: a pure stateless map over the embedding scan (zero
    shuffles, zero Python); whole-stage-codegen folds per row.
    """
    e = _emb(spark, sf_dir)
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * (1 << 20) + 0.5).cast("long"),
    )
    q = e.select("vec_id", qv.alias("qv"))
    cols = []
    for j in range(RP_K):
        signs = F.array(*[F.lit(RP_SIGNS[i][j]) for i in range(EMB_DIM)])
        prods = F.zip_with(
            F.col("qv"), signs, lambda x, s: x * s.cast("long")
        )
        cols.append(
            F.aggregate(prods, F.lit(0).cast("long"), lambda a, p: a + p)
        )
    return q.select("vec_id", F.array(*cols).alias("proj"))


def _recall_oracle() -> str:
    from .registry import ORACLES

    bf = ORACLES["ann_bruteforce_topk"]
    lsh = ORACLES["ann_lsh_topk"]
    return f"""
    WITH bf AS ({bf}), lsh AS ({lsh})
    SELECT bf.query_id,
      CAST(COUNT(lsh.neighbor_id) AS BIGINT) AS n_hits,
      CAST(COUNT(lsh.neighbor_id) AS DOUBLE) / {TOP_K} AS recall
    FROM bf LEFT JOIN lsh
      ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id
    GROUP BY bf.query_id
    """


@query("ann_recall_eval", oracle=_recall_oracle())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@{k} of the LSH-bucketed index
    against the brute-force ground truth, per query — the metric that
    decides whether an approximate index is shippable.  Composes the
    two registered operators (same DataFrames the standalone queries
    return) and both sides of the oracle are the two REGISTERED oracle
    strings CTE-composed, so the eval checks exactly what the operators
    produce.

    recall = hits / K is one double division of exact integers.

    Scale shape: ground truth on the full corpus is only feasible for
    a sampled query set (here the fixed {n} probe queries — which is
    also how production recall monitoring works: sample, never
    all-queries); the join is per-(query, neighbor) on two K-row-per-
    query frames.
    """.format(k=TOP_K, n=N_QUERIES)
    from .registry import QUERIES

    bf = QUERIES["ann_bruteforce_topk"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    lsh = (
        QUERIES["ann_lsh_topk"](spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        bf.join(broadcast(lsh), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            (F.count("hit").cast("double") / TOP_K).alias("recall"),
        )
    )


@query(
    "ml_cluster_quality",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
        list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT))
          AS qv
      FROM {_EMBV} embeddings
    ), per_pos AS (
      SELECT label, i.i AS pos, SUM(qv[i.i]) AS s, COUNT(*) AS n
      FROM q, (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) i(i)
      GROUP BY label, i.i
    ), cent AS (
      SELECT label, list(CAST(s // n AS BIGINT) ORDER BY pos) AS cv
      FROM per_pos GROUP BY label
    ), intra AS (
      SELECT q.label, COUNT(*) AS n_vectors,
        SUM(list_sum(list_transform(range(1, {EMB_DIM + 1}),
            j -> (qv[j] - cv[j]) * (qv[j] - cv[j])))) AS sum_sq
      FROM q JOIN cent USING (label) GROUP BY q.label
    ), inter AS (
      SELECT a.label,
        MIN(list_sum(list_transform(range(1, {EMB_DIM + 1}),
            j -> (a.cv[j] - b.cv[j]) * (a.cv[j] - b.cv[j]))))
          AS min_inter_sq
      FROM cent a JOIN cent b ON a.label <> b.label GROUP BY a.label
    )
    SELECT i.label, i.n_vectors,
      CAST(i.sum_sq AS DOUBLE) / i.n_vectors AS intra_mean_sq,
      CAST(e.min_inter_sq AS BIGINT) AS min_inter_sq,
      CASE WHEN i.sum_sq > 0 THEN
        CAST(e.min_inter_sq AS DOUBLE)
          / (CAST(i.sum_sq AS DOUBLE) / i.n_vectors)
      END AS separation
    FROM intra i JOIN inter e USING (label)
    """,
)
def ml_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation over the labeled embeddings: per
    label, the mean squared distance to the label's own centroid
    (cohesion) and the squared distance to the nearest OTHER centroid
    (separation) — a Dunn-index-style diagnostic for embedding spaces
    and k-means fits, computed WITHOUT any pairwise vector join.

    Engine-exact (operators/kmeans.py conventions): vectors quantize
    to the 2^20 integer grid, centroids are per-dim integer means
    (``s div n`` == DuckDB ``//``), squared distances are exact int64
    (≤ ~2.8e14 per vector at |x|<1, dim 64); the per-label distance
    sum accumulates in DECIMAL(38,0) (order-free, and immune to the
    int64 overflow a raw long SUM would hit past ~30k vectors/label at
    worst-case spread — DuckDB's HUGEINT sum matches exactly).  Only
    the final mean/ratio convert to double, one division each.

    Scale shape: one posexplode → (label, pos) partial-agg builds the
    centroids (map-combinable); the corpus then joins the k-row
    centroid frame by BROADCAST for the cohesion pass (never
    shuffles); inter-centroid distances are a k×k broadcast self-join
    of the tiny centroid frame.  Nothing is quadratic in vectors.
    """
    from ..operators.kmeans import quantize_vectors

    e = _emb(spark, sf_dir, spread=True)
    q = quantize_vectors(e, "vec_id", "embedding").join(
        e.select(F.col("vec_id").alias("id"), "label"), "id"
    )
    per_pos = (
        q.select("label", F.posexplode("qv").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    )
    cent = (
        per_pos.select("label", "pos", F.expr("s div n").alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st.getField("m"),
            ).alias("cv")
        )
    )
    d2 = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, p: acc + p,
    )
    intra = (
        q.join(broadcast(cent), "label")
        .select("label", d2.cast("decimal(38,0)").alias("d2"))
        .groupBy("label")
        .agg(F.count("*").alias("n_vectors"), F.sum("d2").alias("sum_sq"))
    )
    a = cent.select(F.col("label").alias("la"), F.col("cv").alias("ca"))
    b = cent.select(F.col("label").alias("lb"), F.col("cv").alias("cb"))
    cd2 = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, p: acc + p,
    )
    inter = (
        a.join(broadcast(b), F.col("la") != F.col("lb"))
        .select(F.col("la").alias("label"), cd2.alias("cd2"))
        .groupBy("label")
        .agg(F.min("cd2").alias("min_inter_sq"))
    )
    mean_sq = F.col("sum_sq").cast("double") / F.col("n_vectors")
    return (
        intra.join(inter, "label")
        .select(
            "label",
            "n_vectors",
            mean_sq.alias("intra_mean_sq"),
            "min_inter_sq",
            F.when(
                F.col("sum_sq") > 0,
                F.col("min_inter_sq").cast("double") / mean_sq,
            ).alias("separation"),
        )
    )


@query(
    "emb_quantile_normalize",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, dim - 1 AS dim, val
      FROM (SELECT vec_id, unnest(embedding) AS val,
                   generate_subscripts(embedding, 1) AS dim
            FROM {_EMBV} embeddings)
      WHERE dim - 1 < 4
    ),
    ranked AS (
      SELECT vec_id, dim,
        ROW_NUMBER() OVER (PARTITION BY dim ORDER BY val, vec_id) AS rk,
        COUNT(*) OVER (PARTITION BY dim) AS n
      FROM flat
    )
    SELECT vec_id, CAST(dim AS INT) AS dim,
      CAST(rk - 1 AS DOUBLE) / (n - 1) AS q
    FROM ranked
    """,
)
def emb_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile (rank) normalization of the embedding
    matrix — the distribution-flattening prep step before quantization
    or histogram-bucketed indexing: each dimension's values map to
    their empirical CDF position (rank-1)/(n-1) in [0, 1].  Ranks use
    a (value, vec_id) total order so ties are deterministic, and the
    quantile is one exact-integer division in double — bit-identical
    in both engines.

    Scale shape: posexplode → ONE window per dimension (the partition
    count equals the dimensionality, so a 64-dim matrix ranks 64-way
    parallel; rows per partition = corpus size, the same per-key sort
    any grouped ranking pays).  The gate samples dims 0-3 to bound
    output; the operator is dimension-agnostic.
    """
    e = _emb(spark, sf_dir)
    flat = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).filter(F.col("dim") < 4)
    w = Window.partitionBy("dim").orderBy("val", "vec_id")
    cnt = Window.partitionBy("dim")
    ranked = flat.select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.row_number().over(w).alias("rk"),
        F.count("*").over(cnt).alias("n"),
    )
    return ranked.select(
        "vec_id",
        "dim",
        ((F.col("rk") - 1).cast("double") / (F.col("n") - 1)).alias("q"),
    )


def _ridge_oracle() -> str:
    """Cramer's-rule ridge solve in DuckDB (HUGEINT-exact determinants,
    one double division per weight) — mirrors operators/ridge.py
    expression-for-expression."""
    A = [
        "(s.n + 1)", "s.sx1", "s.sx2",
        "s.sx1", "(s.sx1x1 + 1)", "s.sx1x2",
        "s.sx2", "s.sx1x2", "(s.sx2x2 + 1)",
    ]
    b = ["s.sy", "s.sx1y", "s.sx2y"]
    hug = lambda e: f"CAST({e} AS HUGEINT)"

    def det3(a):
        a = [hug(e) for e in a]
        return (
            f"({a[0]} * ({a[4]} * {a[8]} - {a[5]} * {a[7]})"
            f" - {a[1]} * ({a[3]} * {a[8]} - {a[5]} * {a[6]})"
            f" + {a[2]} * ({a[3]} * {a[7]} - {a[4]} * {a[6]}))"
        )

    def repl(i):
        return [b[r] if c == i else A[r * 3 + c]
                for r in range(3) for c in range(3)]

    toks = "list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), t -> t <> '')"
    return f"""
    WITH feats AS (
      SELECT doc_id,
        CAST(LEAST(len({toks}), 100) AS BIGINT) AS x1,
        CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS x2,
        CAST(LEAST(n_chars, 1000) AS BIGINT) AS y
      FROM documents
    ), s AS (
      SELECT COUNT(*) AS n,
        SUM(x1) AS sx1, SUM(x2) AS sx2,
        SUM(x1 * x1) AS sx1x1, SUM(x1 * x2) AS sx1x2,
        SUM(x2 * x2) AS sx2x2,
        SUM(y) AS sy, SUM(x1 * y) AS sx1y, SUM(x2 * y) AS sx2y
      FROM feats
    ), w AS (
      SELECT
        CAST({det3(repl(0))} AS DOUBLE) / CAST({det3(A)} AS DOUBLE) AS w0,
        CAST({det3(repl(1))} AS DOUBLE) / CAST({det3(A)} AS DOUBLE) AS w1,
        CAST({det3(repl(2))} AS DOUBLE) / CAST({det3(A)} AS DOUBLE) AS w2
      FROM s
    )
    SELECT f.doc_id, f.x1, f.x2, f.y,
      w.w0 + w.w1 * CAST(f.x1 AS DOUBLE) + w.w2 * CAST(f.x2 AS DOUBLE)
        AS y_hat
    FROM feats f CROSS JOIN w
    """


@query("ml_ridge_closed_form", oracle=_ridge_oracle())
def ml_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression trained ENTIRELY inside the plan — the
    sufficient-statistics decomposition that makes linear models
    trivially scalable: the Gram matrix X'X and moments X'y are one
    map-combined aggregate (a constant-size row independent of corpus
    size), the normal-equation solve is Cramer's rule over exact
    decimal(38) integers, and the trained weights broadcast back onto
    every document for inference (y ~ token_count, is_english →
    char_count, λ=1).  No .collect(), no driver-side solver, no
    iterations — and because features/targets are integers and the
    solve is a fixed exact-arithmetic expression tree, the ORACLE
    replays training + inference end to end (the same guarantee the
    k-means trainer gives via integer Lloyd).

    Scale shape: training cost = one aggregate pass at any corpus
    size; at hundreds of features the same decomposition collects the
    O(k²) Gram (still corpus-independent) for a LAPACK solve —
    documented in operators/ridge.py.
    """
    from ..functions import text as T
    from ..operators.ridge import ridge3_fit, ridge3_predict

    d = table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        F.least(F.size(T.tokens("text")), F.lit(100))
        .cast("bigint")
        .alias("x1"),
        F.when(F.col("lang") == "en", 1).otherwise(0)
        .cast("bigint")
        .alias("x2"),
        F.least(F.col("n_chars"), F.lit(1000)).cast("bigint").alias("y"),
    )
    w = ridge3_fit(feats, F.col("x1"), F.col("x2"), F.col("y"), lam=1)
    return ridge3_predict(
        feats, w.drop("det"), F.col("x1"), F.col("x2")
    ).select("doc_id", "x1", "x2", "y", "y_hat")


# ---------------------------------------------------------------------------
# Two-stage retrieval: cheap candidate generation + exact/cross rerank
# (round 8).  The production retrieval stack is retrieve-then-rerank:
# a cheap stage-1 score over the whole corpus selects a small pool,
# and only pool rows pay the expensive stage-2 scorer.  Stage 2's
# cost is O(n_queries * POOL), corpus-size-INDEPENDENT — the whole
# point of the pattern at 100 TB.

_COARSE_DIMS = 8   # stage-1 truncated-embedding prefix (MRL-style)
_RERANK_POOL = 50  # stage-1 pool size per query


def _dot_sql_n(a: str, b: str, dims: int) -> str:
    """Left-associated explicit dot over the first ``dims`` dims."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dims + 1)
    )
    return f"(0.0 + {terms})"


def _prefix_dot(a, b, dims: int):
    """Left-fold double dot over the first ``dims`` elements — the
    Spark twin of :func:`_dot_sql_n` (bit-identical fold order)."""
    return F.aggregate(
        F.zip_with(
            F.slice(V.as_double(a), 1, dims),
            F.slice(V.as_double(b), 1, dims),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, p: acc + p,
    )


@query(
    "ann_rerank_refine",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label, embedding,
        sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM {_EMBV} embeddings
    ), stage1 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
        {_dot_sql_n('q.embedding', 'c.embedding', _COARSE_DIMS)} AS coarse,
        {_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), pool AS (
      SELECT query_id, neighbor_id, label, coarse, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY coarse DESC, neighbor_id) AS crk
        FROM stage1) WHERE crk <= {_RERANK_POOL}
    )
    SELECT query_id, neighbor_id, label, coarse, cosine,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      FROM pool) WHERE rk <= {TOP_K}
    """,
)
def ann_rerank_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank with a TRUNCATED-EMBEDDING stage 1
    (Matryoshka-style, Kusupati et al. NeurIPS'22): stage 1 scores
    every (query, candidate) pair with an {8}-dim prefix dot product
    — 8x fewer multiply-adds than the full 64-dim cosine — and keeps
    a per-query pool of {50}; stage 2 computes the EXACT full-dim
    cosine only on pool rows and emits top-{10}.

    Scale shape: stage 1 is the brute-force scan shape (queries
    broadcast, corpus never shuffles for SCORING) at 1/8 the
    arithmetic, and the stage-1 top-pool window shuffles ONLY the
    scalar (query_id, neighbor_id, coarse) triples — the embedding
    arrays are projected away first, keeping the shuffle payload
    ~30 bytes/row instead of ~1 KB/row (a vector-carrying window
    would move 30x the advertised arithmetic saving).  Stage 2
    broadcast-joins the n_queries x POOL pool ids back to the
    corpus scan (columnar-pruned to id/label/embedding) and touches
    only pool rows — corpus-size-independent.  Recall against the
    exact top-k is measured by ann_rerank_recall.
    """
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        V.norm("embedding").alias("q_nrm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    stage1 = c.join(
        broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        _prefix_dot("q_emb", "c_emb", _COARSE_DIMS).alias("coarse"),
    )
    wpool = Window.partitionBy("query_id").orderBy(
        F.desc("coarse"), "neighbor_id"
    )
    pool = (
        stage1.withColumn("crk", F.row_number().over(wpool))
        .filter(F.col("crk") <= _RERANK_POOL)
        .select("query_id", "neighbor_id", "coarse")
    )
    cand = e.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").alias("c_emb"),
    )
    refined = (
        cand.join(broadcast(pool), "neighbor_id")
        .join(broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "label",
            "coarse",
            (
                V.dot("q_emb", "c_emb")
                / (F.col("q_nrm") * V.norm("c_emb"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    return (
        refined.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TOP_K)
    )


def _sign_agree_sql(a: str, b: str) -> str:
    """64-term sign-agreement count (exact integers)."""
    terms = " + ".join(
        f"(CASE WHEN (CAST({a}[{i}] AS DOUBLE) >= 0) = "
        f"(CAST({b}[{i}] AS DOUBLE) >= 0) THEN 1 ELSE 0 END)"
        for i in range(1, EMB_DIM + 1)
    )
    return f"(0 + {terms})"


@query(
    "ann_rerank_cross",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label, embedding,
        sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM {_EMBV} embeddings
    ), stage1 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
        {_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine,
        {_sign_agree_sql('q.embedding', 'c.embedding')} AS sign_agree
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), pool AS (
      SELECT query_id, neighbor_id, label, cosine,
             CAST(sign_agree AS BIGINT) AS sign_agree FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS crk
        FROM stage1) WHERE crk <= {_RERANK_POOL}
    )
    SELECT query_id, neighbor_id, label, cosine, sign_agree,
      0.5 * cosine + CAST(sign_agree AS DOUBLE) / 128.0 AS rerank_score,
      CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY 0.5 * cosine + CAST(sign_agree AS DOUBLE) / 128.0 DESC,
                 neighbor_id) AS rk
      FROM pool) WHERE rk <= {TOP_K}
    """,
)
def ann_rerank_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder-STYLE reranking as a pure in-plan pairwise
    scorer: stage 1 retrieves a per-query pool of {50} by exact
    cosine (the bi-encoder pass); stage 2 re-scores each surviving
    (query, candidate) PAIR with a richer interaction feature —
    here a frozen linear blend of cosine and per-dimension sign
    agreement, rerank = 0.5*cos + agree/128 (both coefficients exact
    binary fractions; agree is an exact integer count, so the blend
    is bit-identical across engines) — and emits top-{10} by the
    reranked order.

    This is the plumbing a real cross-encoder drops into: the pair
    scorer runs ONLY on n_queries x POOL rows (corpus-size-
    independent), the stage-1 top-pool window shuffles scalar
    (query_id, neighbor_id, cosine) rows only (vectors are joined
    back for the pool — same narrow-shuffle discipline as
    ann_rerank_refine), and swapping the frozen blend for a learned
    pairwise model = replacing one expression (or one Arrow-batched
    Pandas UDF over the same pool frame) — the plan shape does not
    change.
    """
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        V.norm("embedding").alias("q_nrm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        V.norm("embedding").alias("c_nrm"),
    )
    agree = F.aggregate(
        F.zip_with(
            V.as_double("q_emb"),
            V.as_double("c_emb"),
            lambda x, y: F.when((x >= 0) == (y >= 0), 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, p: acc + p,
    )
    stage1 = c.join(
        broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (V.dot("q_emb", "c_emb") / (F.col("q_nrm") * F.col("c_nrm"))).alias(
            "cosine"
        ),
    )
    wpool = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    pool_ids = (
        stage1.withColumn("crk", F.row_number().over(wpool))
        .filter(F.col("crk") <= _RERANK_POOL)
        .select("query_id", "neighbor_id", "cosine")
    )
    cand = e.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").alias("c_emb"),
    )
    pool = (
        cand.join(broadcast(pool_ids), "neighbor_id")
        .join(broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "label",
            "cosine",
            agree.cast("bigint").alias("sign_agree"),
        )
    )
    score = (
        F.lit(0.5) * F.col("cosine")
        + F.col("sign_agree").cast("double") / F.lit(128.0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score), "neighbor_id"
    )
    return (
        pool.withColumn("rerank_score", score)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TOP_K)
    )


def _rerank_recall_oracle() -> str:
    from .registry import ORACLES

    bf = ORACLES["ann_bruteforce_topk"]
    rr = ORACLES["ann_rerank_refine"]
    return f"""
    WITH bf AS ({bf}), rr AS ({rr})
    SELECT bf.query_id,
      CAST(COUNT(rr.neighbor_id) AS BIGINT) AS n_hits,
      CAST(COUNT(rr.neighbor_id) AS DOUBLE) / {TOP_K} AS recall
    FROM bf LEFT JOIN rr
      ON bf.query_id = rr.query_id AND bf.neighbor_id = rr.neighbor_id
    GROUP BY bf.query_id
    """


@query("ann_rerank_recall", oracle=_rerank_recall_oracle())
def ann_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the truncated-embedding retrieve + exact rerank
    pipeline (ann_rerank_refine) against the brute-force ground truth
    — the shippability metric for the two-stage index, same harness
    as ann_recall_eval (both sides are the REGISTERED operators and
    their REGISTERED oracles CTE-composed).  A miss here is a true
    pair whose 8-dim prefix dot fell outside the stage-1 pool — the
    knob is _COARSE_DIMS/_RERANK_POOL, the classic recall/compute
    trade of truncated-embedding retrieval."""
    from .registry import QUERIES

    bf = QUERIES["ann_bruteforce_topk"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    rr = (
        QUERIES["ann_rerank_refine"](spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        bf.join(broadcast(rr), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            (F.count("hit").cast("double") / TOP_K).alias("recall"),
        )
    )


@query(
    "ann_lsh_multiprobe_topk",
    oracle=f"""
    WITH keyed AS (
      SELECT vec_id, embedding,
        sqrt({_dot_sql('embedding', 'embedding')}) AS nrm,
        {_bucket_sql('embedding')} AS bucket
      FROM {_EMBV} embeddings
    ), probes AS (
      SELECT q.vec_id AS query_id, q.embedding AS q_emb, q.nrm AS q_nrm,
        xor(q.bucket, flip) AS bucket
      FROM keyed q CROSS JOIN (
        SELECT unnest([CAST(0 AS BIGINT){"".join(f", CAST({2**b} AS BIGINT)" for b in range(len(LSH_PLANES)))}]) AS flip
      )
      WHERE q.vec_id < {N_QUERIES}
    ), scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
        {_dot_sql('p.q_emb', 'c.embedding')} / (p.q_nrm * c.nrm) AS cosine
      FROM probes p JOIN keyed c
        ON p.bucket = c.bucket AND c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07): the query probes
    its sign-bit bucket plus all 8 Hamming-1 perturbations, recovering
    most of the recall that single-bucket LSH loses to one flipped
    hyperplane — WITHOUT a second stored table (the corpus hashes and
    buckets once; only the broadcast-sized query side fans out ×9).
    Candidates stay an equi-join on the bucket key and are unique by
    construction (a corpus vector lives in exactly one bucket).

    Recall ⊇ ann_lsh_topk's on the same planes (probe set is a strict
    superset — asserted in tests/test_similarity_invariants.py); plane
    constants are inlined into the oracle so the approximate path is
    value-checked, collisions and all.
    """
    from ..operators.similarity import lsh_multiprobe_topk

    e = _emb(spark, sf_dir)
    return lsh_multiprobe_topk(
        e, e.filter(F.col("vec_id") < N_QUERIES), LSH_PLANES, k=TOP_K
    ).select("query_id", "neighbor_id", "cosine", "rk")


# Matryoshka prefix length: the truncated index keeps the first
# MRL_DIM of EMB_DIM dimensions.
MRL_DIM = 16


def _dot_sql_dims(a: str, b: str, d: int) -> str:
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, d + 1)
    )
    return f"(0.0 + {terms})"


def _mrl_oracle() -> str:
    from .registry import ORACLES

    bf = ORACLES["ann_bruteforce_topk"]
    return f"""
    WITH bf AS ({bf}), n AS (
      SELECT vec_id, embedding,
        sqrt({_dot_sql_dims('embedding', 'embedding', MRL_DIM)}) AS nrm
      FROM {_EMBV} embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        {_dot_sql_dims('q.embedding', 'c.embedding', MRL_DIM)}
          / (q.nrm * c.nrm) AS cosine
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), trunc AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        FROM scored
      ) WHERE rk <= {TOP_K}
    )
    SELECT bf.query_id,
      CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits,
      CAST(COUNT(t.neighbor_id) AS DOUBLE) / {TOP_K} AS recall
    FROM bf LEFT JOIN trunc t
      ON bf.query_id = t.query_id AND bf.neighbor_id = t.neighbor_id
    GROUP BY bf.query_id
    """


@query("ann_matryoshka_recall", oracle=_mrl_oracle())
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation: recall@10 of a brute-force
    index built on only the FIRST 16 of 64 embedding dimensions,
    against the full-dimension ground truth — the measurement behind
    MRL-style tiered retrieval (coarse search in the cheap prefix,
    exact rescoring in full dimension), which cuts index bytes and
    dot-product FLOPs 4x at 100 TB IF the prefix preserves neighbors.
    On matryoshka-trained embeddings this recall is high; on these
    isotropic gaussian vectors the prefix carries 1/4 of the signal —
    the eval reports exactly how much neighbor structure survives
    either way (the metric is the deliverable, not a fixed verdict).

    Scale shape: both sides are the broadcast-query brute-force shape
    (corpus never shuffles, only n_queries×k rows survive); the
    truncated side's dot product folds 16 components instead of 64.
    """
    from .registry import QUERIES

    bf = QUERIES["ann_bruteforce_topk"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    e = _emb(spark, sf_dir).select(
        "vec_id", F.slice("embedding", 1, MRL_DIM).alias("emb16")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb16").alias("q_emb"),
        V.norm("emb16").alias("q_nrm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb16").alias("c_emb"),
        V.norm("emb16").alias("c_nrm"),
    )
    scored = c.join(
        broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (V.dot("q_emb", "c_emb") / (F.col("q_nrm") * F.col("c_nrm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    trunc = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        bf.join(broadcast(trunc), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("bigint").alias("n_hits"),
            (F.count("hit").cast("double") / TOP_K).alias("recall"),
        )
    )


@query(
    "emb_norm_outliers",
    oracle=f"""
    WITH normed AS (
      SELECT vec_id, sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ), ranked AS (
      SELECT nrm, ROW_NUMBER() OVER (ORDER BY nrm, vec_id) AS rn,
        COUNT(*) OVER () AS n
      FROM normed WHERE isfinite(nrm)
    ), med AS (
      SELECT nrm AS m FROM ranked WHERE rn = (n + 1) // 2
    )
    SELECT vec_id,
      CASE WHEN isfinite(nrm) THEN ROUND(nrm, 9) END AS nrm,
      ROUND(m, 9) AS median_nrm,
      (NOT COALESCE(isfinite(nrm), FALSE)
       OR nrm < 0.5 * m OR nrm > 2.0 * m) AS is_outlier
    FROM normed CROSS JOIN med
    """,
)
def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality gate on the registry: flag vectors whose L2
    norm leaves [0.5·median, 2·median] — degenerate (near-zero) or
    exploded embeddings that poison cosine retrieval.  The operator
    form (operators/similarity.norm_outliers) uses the mergeable
    approx-median for production; THIS gate pins the semantics with an
    EXACT lower median selected by rank via the two-phase global
    ranker, so both engines pick the identical element (approx-median
    tie behavior is engine-specific and can't be value-checked).

    Scale shape: one norm projection, the median rank via
    range-repartition + P-row offsets (no single-partition window),
    and a 1-row broadcast back over the norms.
    """
    from ..operators.relational import global_rank

    # This audit stays UNGATED by design: it must SEE invalid vectors
    # to flag them.  The median ranks only MEASURABLE (finite) norms —
    # engines disagree on where NULL/NaN sort, so an unmeasurable norm
    # in the rank frame silently shifts the median (POISON.md); an
    # unmeasurable norm IS an outlier and reports a NULL nrm.
    e = table(spark, sf_dir, "embeddings")
    normed = e.select("vec_id", V.norm("embedding").alias("nrm"))
    measurable = (
        F.col("nrm").isNotNull()
        & ~F.isnan("nrm")
        & (F.abs("nrm") < F.lit(float("inf")))
    )
    ranked = global_rank(normed.filter(measurable), ["nrm", "vec_id"])
    n = ranked.agg(F.count("*").alias("n"))
    med = (
        ranked.crossJoin(broadcast(n))
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(F.col("nrm").alias("m"))
    )
    return normed.crossJoin(broadcast(med)).select(
        "vec_id",
        F.when(measurable, F.round("nrm", 9)).alias("nrm"),
        F.round("m", 9).alias("median_nrm"),
        (
            ~measurable
            | (F.col("nrm") < 0.5 * F.col("m"))
            | (F.col("nrm") > 2.0 * F.col("m"))
        ).alias("is_outlier"),
    )


def _hybrid_arms_oracle() -> str:
    """CTE-compose the two REGISTERED arm oracles (the ann_recall_eval
    pattern): text arm = text_bm25_search's top-20 (doc_id, rk), vector
    arm = ann_bruteforce_topk's query_id=0 top-10 (neighbor_id, rk).
    Ranks coalesce to 0 ("not retrieved by this arm") so the fused
    frame carries no nullable ints through the comparator."""
    from .registry import ORACLES

    return f"""
    WITH bm AS ({ORACLES["text_bm25_search"]}),
    ann AS ({ORACLES["ann_bruteforce_topk"]}),
    txt AS (SELECT doc_id, rk AS bm25_rk FROM bm),
    vec AS (SELECT neighbor_id AS doc_id, rk AS cos_rk FROM ann
            WHERE query_id = 0),
    arms AS (
      SELECT COALESCE(txt.doc_id, vec.doc_id) AS doc_id,
             CAST(COALESCE(txt.bm25_rk, 0) AS BIGINT) AS bm25_rk,
             CAST(COALESCE(vec.cos_rk, 0) AS BIGINT) AS cos_rk
      FROM txt FULL OUTER JOIN vec ON txt.doc_id = vec.doc_id
    )
    """


def _hybrid_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _hybrid_arms_oracle: compose the two REGISTERED
    arm queries and full-outer-join their (tiny, ≤ top-K-sized) rank
    frames on doc_id."""
    from .registry import QUERIES

    bm = QUERIES["text_bm25_search"](spark, sf_dir).select(
        "doc_id", F.col("rk").alias("bm25_rk")
    )
    ann = (
        QUERIES["ann_bruteforce_topk"](spark, sf_dir)
        .filter(F.col("query_id") == 0)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rk").alias("cos_rk"))
    )
    return bm.join(ann, "doc_id", "full").select(
        "doc_id",
        F.coalesce("bm25_rk", F.lit(0)).cast("bigint").alias("bm25_rk"),
        F.coalesce("cos_rk", F.lit(0)).cast("bigint").alias("cos_rk"),
    )


@query(
    "retrieval_hybrid_rrf",
    oracle=_hybrid_arms_oracle()
    + """
    , fused AS (
      SELECT doc_id, bm25_rk, cos_rk,
        (CASE WHEN bm25_rk > 0 THEN 1000000 // (60 + bm25_rk) ELSE 0 END)
        + (CASE WHEN cos_rk > 0 THEN 1000000 // (60 + cos_rk) ELSE 0 END)
          AS rrf_ppm
      FROM arms
    )
    SELECT doc_id, bm25_rk, cos_rk, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id) AS rk
          FROM fused)
    WHERE rk <= 10
    """,
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time hybrid retrieval, reciprocal-rank fusion (VERDICT r8
    #6): fuse the REGISTERED BM25 arm (lexical) and the REGISTERED
    brute-force cosine arm (semantic) for one request — RRF score
    Σ 1e6 div (60 + rank), exact integer ppm so both engines agree
    bit-for-bit, k=60 the standard RRF damping (Cormack et al.).  A
    document missing from one arm simply contributes 0 — RRF's
    defining robustness over score-scale mismatch.

    Scale shape: each arm is the registered operator's own shape
    (corpus-parallel scoring, top-K survives); fusion touches only the
    two K-sized rank frames, so its full outer join and final top-10
    are constant-size regardless of corpus.  At 100 TB the arms run
    once each and the fusion is free.
    """
    arms = _hybrid_arms(spark, sf_dir)
    rrf = (
        F.when(
            F.col("bm25_rk") > 0,
            F.expr("1000000 div (60 + bm25_rk)"),
        ).otherwise(F.lit(0))
        + F.when(
            F.col("cos_rk") > 0,
            F.expr("1000000 div (60 + cos_rk)"),
        ).otherwise(F.lit(0))
    ).cast("bigint")
    fused = arms.select("doc_id", "bm25_rk", "cos_rk", rrf.alias("rrf_ppm"))
    w = Window.orderBy(F.desc("rrf_ppm"), "doc_id")
    return (
        fused.orderBy(F.desc("rrf_ppm"), "doc_id")
        .limit(10)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
    )


@query(
    "retrieval_hybrid_weighted",
    oracle=_hybrid_arms_oracle()
    + """
    , fused AS (
      SELECT doc_id, bm25_rk, cos_rk,
        (CASE WHEN bm25_rk > 0
              THEN (600000 * (20 - bm25_rk + 1)) // 20 ELSE 0 END)
        + (CASE WHEN cos_rk > 0
                THEN (400000 * (10 - cos_rk + 1)) // 10 ELSE 0 END)
          AS fused_ppm
      FROM arms
    )
    SELECT doc_id, bm25_rk, cos_rk, CAST(fused_ppm AS BIGINT) AS fused_ppm,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY fused_ppm DESC, doc_id) AS rk
          FROM fused)
    WHERE rk <= 10
    """,
)
def retrieval_hybrid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-sum hybrid fusion (the other standard production
    shape): per-arm rank-normalized relevance in exact integer ppm —
    arm contribution = weight · (K - rank + 1)/K with text weight 0.6
    over its K=20 and vector weight 0.4 over its K=10 — summed via
    integer division so both engines agree exactly.  Rank-based
    normalization (not raw-score min-max) is deliberate: BM25 scores
    and cosines live on incomparable scales, and rank normalization is
    the scale-free fix that needs no per-query score statistics.

    Scale shape: identical to retrieval_hybrid_rrf — arms at corpus
    scale, fusion over two K-sized frames.
    """
    arms = _hybrid_arms(spark, sf_dir)
    fused_ppm = (
        F.when(
            F.col("bm25_rk") > 0,
            F.expr("(600000 * (20 - bm25_rk + 1)) div 20"),
        ).otherwise(F.lit(0))
        + F.when(
            F.col("cos_rk") > 0,
            F.expr("(400000 * (10 - cos_rk + 1)) div 10"),
        ).otherwise(F.lit(0))
    ).cast("bigint")
    fused = arms.select(
        "doc_id", "bm25_rk", "cos_rk", fused_ppm.alias("fused_ppm")
    )
    w = Window.orderBy(F.desc("fused_ppm"), "doc_id")
    return (
        fused.orderBy(F.desc("fused_ppm"), "doc_id")
        .limit(10)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
    )


@query(
    "emb_dim_variance_audit",
    oracle=f"""
    WITH q AS (
      SELECT dim,
        CAST(FLOOR(CAST(embedding[dim + 1] AS DOUBLE) * 65536) AS BIGINT)
          AS qv
      FROM {_EMBV} embeddings,
           LATERAL (SELECT unnest(range({EMB_DIM})) AS dim)
    ), s AS (
      SELECT dim, COUNT(*) AS n,
        SUM(CAST(qv AS DECIMAL(38,0))) AS sum_q,
        SUM(CAST(qv AS DECIMAL(19,0)) * CAST(qv AS DECIMAL(19,0)))
          AS sum_q2,
        MIN(qv) AS min_q, MAX(qv) AS max_q
      FROM q GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
      CAST(sum_q AS BIGINT) AS sum_q,
      CAST(sum_q2 AS DOUBLE) AS sum_q2,
      CAST(min_q AS BIGINT) AS min_q, CAST(max_q AS BIGINT) AS max_q,
      CAST(sum_q AS DOUBLE) / (CAST(n AS DOUBLE) * 65536.0) AS mean,
      (CAST(n AS DOUBLE) * CAST(sum_q2 AS DOUBLE)
       - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE))
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 4294967296.0) AS variance
    FROM s ORDER BY dim
    """,
)
def emb_dim_variance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics — the dead/degenerate-
    dimension audit run before indexing or whitening a vector corpus
    (a near-zero-variance dimension wastes index bits; a huge-range
    one dominates L2).  Values are quantized by an EXACT power-of-two
    scale (v·2¹⁶ — a float-mantissa shift, never a rounding — then
    floor), so all moment sums accumulate exactly (both the first and
    second moments in DECIMAL(38,0)) and both engines agree
    bit-for-bit; mean/variance divide those exact integers in a
    single-row double chain at the end.

    Scale shape: one posexplode (64 rows per vector) into a
    64-group map-combined aggregate — the frame after the scan is
    dimension-sized, not corpus-sized.  Runs GATED (valid vectors
    only): one 1e30 corruption element overflowed the original int64
    square (POISON.md); emb_norm_outliers is the audit that sees
    invalid rows.  Both moments accumulate in DECIMAL(38,0) — exact
    for |v| up to the 1e6 gate bound (|q| ≈ 2^36, q² ≈ 2^72) past
    10¹⁶ vectors, where int64 held the square only for |v| < 8 and
    the first moment only through ~1.4e8 max-magnitude rows per dim.
    The exported sum_q stays BIGINT (exact at any gate SF; an actual
    >2^63 sum would fail the final cast loudly in both engines rather
    than silently wrap mid-aggregation).
    """
    e = _emb(spark, sf_dir, spread=True)
    q = e.select(
        F.posexplode(V.as_double("embedding")).alias("dim", "v")
    ).select("dim", F.floor(F.col("v") * 65536).cast("bigint").alias("qv"))
    s = q.groupBy("dim").agg(
        F.count("*").alias("n"),
        # DECIMAL(38,0) for BOTH moments: with the 1e6 intake bound,
        # |q| can reach ~6.6e10 (~2^36), so SUM(qv) in int64 would
        # ANSI-overflow around ~1.4e8 adversarial rows per dim, and
        # q² (~2^72) overflowed int64 on ONE poison row (POISON.md)
        F.sum(F.col("qv").cast("decimal(38,0)")).alias("sum_q"),
        F.sum(
            F.col("qv").cast("decimal(19,0)")
            * F.col("qv").cast("decimal(19,0)")
        ).alias("sum_q2"),
        F.min("qv").alias("min_q"),
        F.max("qv").alias("max_q"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_q").cast("bigint").alias("sum_q"),
        F.col("sum_q2").cast("double").alias("sum_q2"),
        F.col("min_q").cast("bigint").alias("min_q"),
        F.col("max_q").cast("bigint").alias("max_q"),
        (F.col("sum_q").cast("double") / (nd * 65536.0)).alias("mean"),
        (
            (
                nd * F.col("sum_q2").cast("double")
                - F.col("sum_q").cast("double") * F.col("sum_q").cast("double")
            )
            / (nd * nd * 4294967296.0)
        ).alias("variance"),
    ).orderBy("dim")
