"""The k-means/PQ argmin (operators/kmeans: the map-only expression
over the broadcast centroid array) against an independent
brute-force replay written here in plain Python integers.

Contract: nearest centroid by exact integer squared distance, ties to
the LOWEST cell id; Lloyd updates are per-dim ``sum div count`` over
the rows a cell won, seeded by the k smallest md5("c:" + id).  The
plain and the grouped (PQ sub-space) shapes are both covered.
"""

import hashlib

from pyspark.sql import functions as F

from sec_edgar_spark.operators import kmeans as K


def _vecs(spark, n=40, d=6):
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(d)),
        lambda i: ((F.col("id") * 31 + i * 17) % 100).cast("double") / 50.0,
    )
    return spark.range(n).select("id", vec.alias("embedding"))


def _collect_sorted(df):
    return sorted(map(tuple, df.collect()))


def _argmin(x, book):
    """Brute-force nearest cell over ``book = [(cell, cv), ...]``:
    strict minimum of the squared distance, ties to the lowest id."""
    best = None
    for cell, cv in sorted(book):
        d = sum((a - b) ** 2 for a, b in zip(x, cv))
        if best is None or d < best[0]:
            best = (d, cell)
    return best[1]


def _lloyd(rows, k, n_iter):
    """Pure-Python integer Lloyd loop over ``rows = {id: qv}``."""

    def ik(i):
        return hashlib.md5(f"c:{i}".encode()).hexdigest()

    seeds = sorted(rows, key=lambda i: (ik(i), i))[:k]
    book = [(c, rows[i]) for c, i in enumerate(seeds)]
    for _ in range(n_iter):
        won: dict = {}
        for i, x in rows.items():
            won.setdefault(_argmin(x, book), []).append(x)
        # integer mean truncating toward zero, as Spark's ``div``
        book = [
            (c, [int(sum(col) / len(xs)) for col in zip(*xs)])
            for c, xs in sorted(won.items())
        ]
    return book


def _quantized(spark, n=40, d=6):
    q = K.quantize_vectors(_vecs(spark, n, d), "id", "embedding")
    return q, {r["id"]: list(r["qv"]) for r in q.collect()}


def test_assign_cells_parity_and_ties(spark):
    q, rows = _quantized(spark)
    cents = K.lloyd_fit(q, k=3, n_iter=1)
    # duplicate a centroid under a HIGHER cell id: every row nearest to
    # it is now equidistant to two cells and must pick the lower id
    dup = cents.filter(F.col("cell") == 0).select(
        (F.col("cell") + 100).alias("cell"), "cv"
    )
    cents_ties = cents.unionByName(dup)
    book = [(r["cell"], list(r["cv"])) for r in cents_ties.collect()]
    got = _collect_sorted(K.assign_cells(q, cents_ties))
    assert got == sorted((i, _argmin(x, book)) for i, x in rows.items())
    assert any(cell == 0 for _, cell in got)
    assert not any(cell >= 100 for _, cell in got)


def test_lloyd_fit_parity(spark):
    q, rows = _quantized(spark)
    got = [
        (r["cell"], list(r["cv"]))
        for r in K.lloyd_fit(q, k=4, n_iter=2).orderBy("cell").collect()
    ]
    assert got == _lloyd(rows, k=4, n_iter=2)


def test_grouped_parity(spark):
    # the PQ shape: every id appears once per sub-space g
    q, rows = _quantized(spark, n=60, d=8)
    qg = q.select(
        F.lit(0).cast("long").alias("g"), "id", F.slice("qv", 1, 4).alias("qv")
    ).unionByName(
        q.select(
            F.lit(1).cast("long").alias("g"), "id", F.slice("qv", 5, 4).alias("qv")
        )
    )
    cents = K.lloyd_fit_grouped(qg, k=3, n_iter=2)
    got_cents = [
        (r["g"], r["cell"], list(r["cv"]))
        for r in cents.orderBy("g", "cell").collect()
    ]
    want_cents, want_assign = [], []
    for g in (0, 1):
        sub = {i: x[4 * g : 4 * g + 4] for i, x in rows.items()}
        book = _lloyd(sub, k=3, n_iter=2)
        want_cents += [(g, c, cv) for c, cv in book]
        want_assign += [(g, i, _argmin(x, book)) for i, x in sub.items()]
    assert got_cents == want_cents
    assert _collect_sorted(K.assign_cells_grouped(qg, cents)) == sorted(
        want_assign
    )
