"""Entity-resolution (record-linkage) queries over the part catalog.

The structured-record counterpart of the document-dedup family: decide
which CATALOG ROWS describe the same real-world product.  The classic
three-stage pipeline, each stage its own oracle-gated query:

1. candidate generation — blocking (equi-join on a cheap key) and
   sorted-neighborhood (bounded rank window inside a block), the two
   standard ways to avoid the all-pairs O(n²) comparison;
2. pairwise match scoring — exact integer feature blend + per-record
   best match;
3. transitive merge — accepted pairs → connected components → one
   entity id per row (the star-contraction WCC from operators/graph).

Blocking-key discipline at 100 TB: a block key must have cardinality
that GROWS with the data (here the name's first token rides in the
key), never a fixed-vocabulary column alone (p_type × p_size is ~300
values forever — blocks would grow linearly with the corpus and the
within-block join/window would quadratically blow up).  The same rule
the dedup family applies to its shingle/band keys.

All features are exact integer math (Levenshtein, abs diffs on cents,
DIV) so both engines replay score and accept decisions bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import query

# Match acceptance: score = 1000 - 150*name_dist - min(price_diff, 3000)//10,
# accepted when score > 700 (STRICT).  Name-identical pairs are accepted
# iff price drift < $30.00 (diff 3000 caps the penalty at exactly 300 →
# score 700, rejected by the strict floor); a 1-edit name costs 150, so
# it survives only under $15.00 drift; 2+ edits can never reach 701.
_SCORE_SQL = (
    "1000 - 150 * levenshtein(a.p_name, b.p_name) "
    "- LEAST(ABS(a.cents - b.cents), 3000) // 10"
)

# Shared keyed projection (first name token = the scaling block part).
_KEYED_SQL = """
      SELECT p_partkey, p_name, p_type, p_size,
        split_part(p_name, ' ', 1) AS tok1,
        CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
"""

# Blocked candidate pairs with features + score (stage-2 core, also the
# edge source for the stage-3 closure oracle).
_ER_PAIRS_SQL = f"""
    keyed AS ({_KEYED_SQL}
    ), pairs AS (
      SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
        CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS name_dist,
        ABS(a.cents - b.cents) AS price_diff_cents,
        CAST({_SCORE_SQL} AS BIGINT) AS score
      FROM keyed a JOIN keyed b
        ON a.p_type = b.p_type AND a.p_size = b.p_size
        AND a.tok1 = b.tok1 AND a.p_partkey < b.p_partkey
    )
"""


def _keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        "p_type",
        "p_size",
        F.element_at(F.split("p_name", " "), 1).alias("tok1"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _keyed(spark, sf_dir)
    a = k.select(*[F.col(c).alias(f"{c}_a") for c in k.columns])
    b = k.select(*[F.col(c).alias(f"{c}_b") for c in k.columns])
    name_dist = F.levenshtein("p_name_a", "p_name_b").cast("bigint")
    price_diff = F.abs(F.col("cents_a") - F.col("cents_b"))
    score = (
        F.lit(1000)
        - 150 * name_dist
        - F.expr("LEAST(ABS(cents_a - cents_b), 3000) DIV 10")
    ).cast("bigint")
    return (
        a.join(
            b,
            (F.col("p_type_a") == F.col("p_type_b"))
            & (F.col("p_size_a") == F.col("p_size_b"))
            & (F.col("tok1_a") == F.col("tok1_b"))
            & (F.col("p_partkey_a") < F.col("p_partkey_b")),
        )
        .select(
            F.col("p_partkey_a").alias("partkey_a"),
            F.col("p_partkey_b").alias("partkey_b"),
            name_dist.alias("name_dist"),
            price_diff.alias("price_diff_cents"),
            score.alias("score"),
        )
    )


@query(
    "er_match_score",
    oracle=f"""
    WITH {_ER_PAIRS_SQL}
    SELECT partkey_a, partkey_b, name_dist, price_diff_cents, score,
      (row_number() OVER (PARTITION BY partkey_a
                          ORDER BY score DESC, partkey_b) = 1)
        AS is_best_for_a
    FROM pairs WHERE score > 700
    """,
)
def er_match_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise match scoring with per-record best match.

    Candidates come from the (p_type, p_size, first-name-token) block
    equi-join — never all-pairs; the first token scales the key with
    the corpus (module docstring).  Score is an exact integer blend of
    name edit distance and capped price drift; accepted pairs carry an
    is_best_for_a flag (deterministic argmax: score desc, then key) —
    the one-to-many → one-to-one reduction every linkage pipeline ends
    with.

    Scale shape: one equi-join on the block key, one bounded window
    partitioned by partkey_a (per-record candidate lists are bounded
    by the block discipline, so the argmax sort is tiny per key).

    HOT-BLOCK WARNING: an adversarial name distribution (fixed
    vocabulary) makes a block quadratic — the sf10 probe measured the
    uncapped join's superlinear growth.  Stays registered as the
    oracle-exact semantics; the production path is
    er_match_score_capped (blocks above the cap are excluded before
    the pair join, forfeit observable).
    """
    pairs = _scored_pairs(spark, sf_dir).filter(F.col("score") > 700)
    w = Window.partitionBy("partkey_a").orderBy(
        F.desc("score"), F.asc("partkey_b")
    )
    return pairs.withColumn(
        "is_best_for_a", F.row_number().over(w) == 1
    )


@query(
    "er_sorted_neighborhood",
    oracle=f"""
    WITH keyed AS ({_KEYED_SQL}
    ), ranked AS (
      SELECT p_partkey, p_name, p_type, p_size, cents, tok1,
        lead(p_partkey, 1) OVER w AS nk1,
        lead(p_name, 1) OVER w AS nn1,
        lead(p_size, 1) OVER w AS ns1,
        lead(cents, 1) OVER w AS nc1,
        lead(p_partkey, 2) OVER w AS nk2,
        lead(p_name, 2) OVER w AS nn2,
        lead(p_size, 2) OVER w AS ns2,
        lead(cents, 2) OVER w AS nc2
      FROM keyed
      WINDOW w AS (PARTITION BY p_type, tok1
                   ORDER BY p_name, p_size, p_partkey)
    ), stacked AS (
      SELECT p_partkey AS partkey_a, nk1 AS partkey_b,
        CAST(levenshtein(p_name, nn1) AS BIGINT) AS name_dist,
        CAST(ABS(p_size - ns1) AS BIGINT) AS size_diff,
        ABS(cents - nc1) AS price_diff_cents
      FROM ranked WHERE nk1 IS NOT NULL
      UNION ALL
      SELECT p_partkey, nk2,
        CAST(levenshtein(p_name, nn2) AS BIGINT),
        CAST(ABS(p_size - ns2) AS BIGINT),
        ABS(cents - nc2)
      FROM ranked WHERE nk2 IS NOT NULL
    )
    SELECT partkey_a, partkey_b, name_dist, size_diff, price_diff_cents
    FROM stacked WHERE name_dist <= 4
    """,
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate generation — the complement of
    blocking: inside each (p_type, first-token) canopy, records are
    ORDERED by (name, size, key) and each row pairs with its next 2
    neighbours, so near-matches ACROSS sizes (which the size-keyed
    block join can never see) surface at a guaranteed ≤ 2 pairs per
    row — candidate volume is linear in n by construction, the SN
    selling point.

    Scale shape: one window partitioned by the canopy key (first token
    rides in it, so canopies stay bounded as the corpus grows — module
    docstring); the two leads share the window's single sort; the
    stack is a union of two projections of the same frame.
    """
    k = _keyed(spark, sf_dir)
    w = Window.partitionBy("p_type", "tok1").orderBy(
        "p_name", "p_size", "p_partkey"
    )
    ranked = k.select(
        "p_partkey",
        "p_name",
        "p_size",
        "cents",
        F.lead("p_partkey", 1).over(w).alias("nk1"),
        F.lead("p_name", 1).over(w).alias("nn1"),
        F.lead("p_size", 1).over(w).alias("ns1"),
        F.lead("cents", 1).over(w).alias("nc1"),
        F.lead("p_partkey", 2).over(w).alias("nk2"),
        F.lead("p_name", 2).over(w).alias("nn2"),
        F.lead("p_size", 2).over(w).alias("ns2"),
        F.lead("cents", 2).over(w).alias("nc2"),
    )

    def pair(nk, nn, ns, nc):
        return ranked.filter(F.col(nk).isNotNull()).select(
            F.col("p_partkey").alias("partkey_a"),
            F.col(nk).alias("partkey_b"),
            F.levenshtein("p_name", nn).cast("bigint").alias("name_dist"),
            F.abs(F.col("p_size") - F.col(ns)).cast("bigint").alias("size_diff"),
            F.abs(F.col("cents") - F.col(nc)).alias("price_diff_cents"),
        )

    out = pair("nk1", "nn1", "ns1", "nc1").unionByName(
        pair("nk2", "nn2", "ns2", "nc2")
    )
    return out.filter(F.col("name_dist") <= 4)


@query(
    "er_entity_groups",
    oracle=f"""
    WITH RECURSIVE {_ER_PAIRS_SQL},
    accepted AS (
      SELECT partkey_a, partkey_b FROM pairs WHERE score > 700
    ), edges AS (
      SELECT partkey_a AS s, partkey_b AS d FROM accepted
      UNION
      SELECT partkey_b, partkey_a FROM accepted
    ), reach(id, lbl) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, r.lbl FROM edges e JOIN reach r ON e.d = r.id
    )
    SELECT id AS p_partkey, CAST(MIN(lbl) AS BIGINT) AS entity
    FROM reach GROUP BY id
    """,
)
def er_entity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive merge: accepted match pairs become per-row ENTITY IDS
    via connected components (operators/graph.wcc_star — the
    star-contraction WCC), so "A matches B, B matches C" collapses to
    one entity even though (A, C) never met in a block.  The
    structured-record twin of dedup_connected_components.

    Oracle: exact recursive-CTE min-reachability over the same
    accepted-pairs SQL as er_match_score — run-to-convergence on both
    engines, no unroll pin.
    """
    from ..operators.graph import wcc_star

    accepted = (
        _scored_pairs(spark, sf_dir)
        .filter(F.col("score") > 700)
        .select(F.col("partkey_a").alias("s"), F.col("partkey_b").alias("d"))
    )
    return wcc_star(accepted).select(
        F.col("id").alias("p_partkey"), "component"
    ).withColumnRenamed("component", "entity")


# Hot-block cap for the capped variant: blocks above this size are
# excluded from the join entirely.  64 > the largest block at every
# gate SF (max 22 at sf0.1), so capped == uncapped on healthy data;
# on an adversarial fixed-vocabulary corpus (the verbatim 10x replica,
# SCALE.md) blocks exceed it and the quadratic pair answer is forfeit
# in exchange for flat wall-time — the same contract as the capped
# dedup joins (dedup_prefix_filter_capped).
_BLOCK_CAP = 64


@query(
    "er_match_score_capped",
    oracle=f"""
    WITH keyed AS ({_KEYED_SQL}
    ), blocks AS (
      SELECT p_type, p_size, tok1 FROM keyed
      GROUP BY 1, 2, 3 HAVING COUNT(*) <= {_BLOCK_CAP}
    ), small AS (
      SELECT k.* FROM keyed k JOIN blocks b
        ON k.p_type = b.p_type AND k.p_size = b.p_size AND k.tok1 = b.tok1
    ), pairs AS (
      SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
        CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS name_dist,
        ABS(a.cents - b.cents) AS price_diff_cents,
        CAST({_SCORE_SQL} AS BIGINT) AS score
      FROM small a JOIN small b
        ON a.p_type = b.p_type AND a.p_size = b.p_size
        AND a.tok1 = b.tok1 AND a.p_partkey < b.p_partkey
    )
    SELECT partkey_a, partkey_b, name_dist, price_diff_cents, score,
      (row_number() OVER (PARTITION BY partkey_a
                          ORDER BY score DESC, partkey_b) = 1)
        AS is_best_for_a
    FROM pairs WHERE score > 700
    """,
)
def er_match_score_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """er_match_score with a hot-block cap — the capped-dedup-join
    device composed onto ER, proving the SCALE.md claim by code:
    blocks larger than _BLOCK_CAP rows are dropped BEFORE the pair
    join, so per-block pair work is bounded at CAP² regardless of how
    adversarial the name distribution gets.  On every gate SF the cap
    never binds (max block 22 at sf0.1) and the output equals
    er_match_score exactly (subset-tested both directions); on a
    fixed-vocabulary corpus the oversized blocks — where the TRUE
    answer is quadratic by construction — are skipped, trading recall
    for survival, with the forfeit observable (the excluded-block list
    is one cheap aggregate).

    Scale shape: one extra vocab-shaped block-size aggregate + a
    semi-shaped equi-join against the small-block list; everything
    else is er_match_score's plan.
    """
    k = _keyed(spark, sf_dir)
    # exact heat dispatch (r13, VERDICT r12 #2): one memoized
    # max-block-size probe decides whether the cap machinery (the
    # block-count aggregate + semi-shaped join) can possibly matter.
    # "hottest block <= cap" is a THEOREM that capped == uncapped
    # (zero forfeit), so the uncapped plan is safe against the capped
    # oracle; a SAMPLED estimate would not be (a wrong not-hot call
    # silently changes rows) — operators/stats.exact_max_group_rows
    # has the full argument.  Uniform corpora skip the machinery and
    # provably forfeit nothing; hot corpora (fixed-vocabulary
    # replicas) dispatch capped.
    from ..operators.stats import exact_max_group_rows

    hottest = exact_max_group_rows(
        k,
        ["p_type", "p_size", "tok1"],
        path=f"{sf_dir}/part.parquet",
        tag="er_block",
    )
    if hottest <= _BLOCK_CAP:
        small = k
    else:
        blocks = (
            k.groupBy("p_type", "p_size", "tok1")
            .agg(F.count("*").alias("bn"))
            .filter(F.col("bn") <= _BLOCK_CAP)
            .select("p_type", "p_size", "tok1")
        )
        small = k.join(blocks, ["p_type", "p_size", "tok1"])
    a = small.select(*[F.col(c).alias(f"{c}_a") for c in small.columns])
    b = small.select(*[F.col(c).alias(f"{c}_b") for c in small.columns])
    name_dist = F.levenshtein("p_name_a", "p_name_b").cast("bigint")
    score = (
        F.lit(1000)
        - 150 * name_dist
        - F.expr("LEAST(ABS(cents_a - cents_b), 3000) DIV 10")
    ).cast("bigint")
    pairs = (
        a.join(
            b,
            (F.col("p_type_a") == F.col("p_type_b"))
            & (F.col("p_size_a") == F.col("p_size_b"))
            & (F.col("tok1_a") == F.col("tok1_b"))
            & (F.col("p_partkey_a") < F.col("p_partkey_b")),
        )
        .select(
            F.col("p_partkey_a").alias("partkey_a"),
            F.col("p_partkey_b").alias("partkey_b"),
            name_dist.alias("name_dist"),
            F.abs(F.col("cents_a") - F.col("cents_b")).alias("price_diff_cents"),
            score.alias("score"),
        )
        .filter(F.col("score") > 700)
    )
    w = Window.partitionBy("partkey_a").orderBy(
        F.desc("score"), F.asc("partkey_b")
    )
    return pairs.withColumn("is_best_for_a", F.row_number().over(w) == 1)
