"""Deduplication operators (library surface).

Signature computation is MAP-ONLY (r13): shingle set, base hashes, and
the K minhashes are all per-row array expressions staged through
projections whose intermediates (``sh``, ``_hs``) are each referenced
MORE THAN ONCE downstream — that multi-reference is what stops
Catalyst's CollapseProject from inlining the shingle-building
expression into every one of the K output columns (the re-tokenize-
O(K × shingles)-times trap that originally motivated an explode +
``groupBy(id).agg(min...)`` shape; plans/r13 show tokenize/shingle
evaluate once per row).  Relative to that explode shape this removes
the Generate, the signature Exchange, and the map-side agg from every
consumer — measured value-identical and faster at sf0.1, and the
100 TB shape is strictly better: signatures never shuffle at all, and
per-document work is embarrassingly parallel regardless of
document-length skew (a document's shingles were always hashed by one
reducer anyway — the min is per-document).

All hashes are md5-based (functions/text.py) → engine-portable values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T

# MinHash universe: 31-bit prime field.  Each of the K hash functions is
# an affine transform (a_i * h + b_i) mod P of ONE md5-derived base hash
# — one md5 per shingle instead of K, and the whole derivation is exact
# in any engine's 64-bit integers (a_i, h < 2^31 → product < 2^62).
MINHASH_P = 2147483647

def _minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs from a fixed LCG (seed constants are
    part of the operator contract — the DuckDB oracle inlines them)."""
    coeffs = []
    x = 1103515245
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = (x % (MINHASH_P - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = x % MINHASH_P
        coeffs.append((a, b))
    return coeffs


MINHASH_COEFFS = _minhash_coeffs(64)  # enough for any K ≤ 64


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows: distinct word n-grams, zero shuffles.

    Shingles are assembled per document row with ``transform`` over the
    token array and deduped with ``array_distinct`` BEFORE the explode,
    so the whole thing fuses into the scan stage — no window shuffle, no
    post-explode ``distinct`` shuffle.  The token split is materialized
    in its own projection (``_toks``); referencing it more than once
    keeps CollapseProject from inlining the split into the lambda (which
    would re-split per array element — the higher-order recompute trap
    documented in SCALE.md).
    """
    d = df.select(F.col(id_col), T.tokens(text_col).alias("_toks")).filter(
        F.size("_toks") >= n
    )
    sh_arr = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at("_toks", (i + k + 1).cast("int")) for k in range(n)]
        ),
    )
    return d.select(
        F.col(id_col), F.explode(F.array_distinct(sh_arr)).alias("shingle")
    )


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, sh: array<string>) distinct word n-gram sets, MAP-ONLY.

    Same shingle construction as :func:`shingle_rows` but kept as one
    array per document — no Generate, no shuffle.  ``_toks`` is
    referenced twice in the outer projection (``size`` bound +
    ``element_at``) so CollapseProject cannot inline the tokenize into
    the lambda (the higher-order recompute trap, see module docstring).
    """
    d = df.select(F.col(id_col), T.tokens(text_col).alias("_toks")).filter(
        F.size("_toks") >= n
    )
    sh_arr = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at("_toks", (i + k + 1).cast("int")) for k in range(n)]
        ),
    )
    return d.select(F.col(id_col), F.array_distinct(sh_arr).alias("sh"))


def _minhash_cols(num_hashes: int):
    """K ``array_min(transform(_hs, affine_i))`` signature columns over a
    bound ``_hs`` base-hash array column (must be a materialized column
    reference, not an inline expression — K references keep it from
    being inlined K times)."""
    return [
        F.array_min(
            F.transform(
                F.col("_hs"),
                (lambda ab: (lambda h: (F.lit(ab[0]) * h + F.lit(ab[1])) % MINHASH_P))(
                    ab
                ),
            )
        ).alias(f"mh{i}")
        for i, ab in enumerate(MINHASH_COEFFS[:num_hashes])
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, mh0..mhK-1) MinHash signatures, MAP-ONLY (r13).

    Per row: shingle set → one md5 base hash per shingle → K
    ``array_min`` affine transforms.  Zero shuffles; values identical
    to the historical explode → min-agg shape (min over the same
    multiset).
    """
    base = shingle_arrays(df, id_col, text_col, shingle_n)
    hs = base.select(
        F.col(id_col),
        F.col("sh"),
        F.transform(F.col("sh"), lambda s: T.md5_hash64(s) % MINHASH_P).alias("_hs"),
    )
    return hs.select(F.col(id_col), *_minhash_cols(num_hashes))


def minhash_band_keys(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, band_key) — LSH banding of a signature frame.

    One posexplode over an array of band keys (NOT a bands-way union:
    a union would re-evaluate the signature aggregation once per band
    on every consumer branch).
    """
    keys = []
    for b in range(bands):
        cols = [
            F.col(f"mh{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        keys.append(F.md5(F.concat_ws(":", *cols)))
    return sigs.select(
        F.col(id_col), F.posexplode(F.array(*keys)).alias("band", "band_key")
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str
) -> DataFrame:
    """Distinct (id_a, id_b) pairs sharing any band bucket (id_a < id_b).

    The self-join shuffles on (band, band_key) — only same-bucket docs
    meet; never an all-pairs product.
    """
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


# r14 NEGATIVE RESULT (guide §1.2/§4.2, VERDICT r13 #3b): a vectorized
# Arrow twin of the verify-tier set overlap was built and MEASURED
# SLOWER, so the expression path below stays.  Two kernel shapes were
# tried at an at-scale synthetic (200k candidate pairs × 120-shingle
# string arrays, 8 cores, interleaved min-of-2): a pandas_udf
# (factorize + int64 row-key set ops) at 11.95 s and a pyarrow-native
# mapInArrow (ListArray offsets + dictionary_encode codes, zero Python
# string objects) at 12.59 s — vs 3.66-4.64 s for the expression path.
# Unlike the trainers' argmin (an INTERPRETED Catalyst higher-order
# fold, where the NumPy kernel wins ~2× — operators/kmeans.py),
# array_intersect/array_union are codegen'd JVM expressions: there is
# no interpretation penalty to recover, and shipping every candidate
# pair's string arrays across the JVM→Python Arrow boundary costs ~3×
# the whole set-op stage.  Results were verified bit-identical before
# discarding (OPTIMIZATION_r14.md has the full numbers).


def jaccard_expr(sh_a: str, sh_b: str):
    """Exact set Jaccard ``|A∩B| / |A∪B|`` as one expression — the
    shared verify-tier definition (LSH verify, prefix-filter verify,
    band tuning)."""
    return F.size(F.array_intersect(sh_a, sh_b)).cast("double") / F.size(
        F.array_union(sh_a, sh_b)
    )


def intersect_size_expr(xs: str, ys: str):
    """``size(array_intersect(xs, ys))`` — the containment numerator."""
    return F.size(F.array_intersect(xs, ys)).cast("bigint")


def jaccard_verify(
    pairs: DataFrame,
    shingle_sets: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs.

    ``shingle_sets`` is (id, sh: array<string>); two hash-joins bring the
    sets to the pair rows, then intersect/union evaluate colocated.
    """
    sa = shingle_sets.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")
    )
    sb = shingle_sets.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", jaccard_expr("sh_a", "sh_b").alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh: array<string>) — distinct shingle sets, map-only (the
    per-row array IS the set; no explode + collect_list round trip)."""
    return shingle_arrays(df, id_col, text_col, n)


def fused_doc_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """(id, sh, mh0..mhK-1) per-document frame, MAP-ONLY (r13): the
    shingle set and the K signature mins are per-row array expressions
    — no Generate, no signature Exchange (the historical explode + one
    fused aggregation shape shuffled K longs + the shingle set per
    document).  Cached (lazily) because banding and verify both
    consume it.

    Public API (ADVICE r13): three call-site families consume it —
    the LSH pipeline here, the streaming incremental-LSH upsert, and
    dedup_band_tuning's shared fused frame.  Cache lifetime: the
    cache is registered per returned DataFrame and lives until
    ``spark.catalog.clearCache()`` or session end; batch callers that
    time/isolate queries (bench.py, tools/*) clear the catalog cache
    between runs, and the streaming path re-builds it per micro-batch
    (each batch is a new frame, so no cross-batch growth).  Being
    map-only, the cached frame keeps the scan's partitioning: the
    session's cached-plan coalescing (session.py) has no shuffle to
    coalesce here."""
    base = shingle_arrays(df, id_col, text_col, shingle_n)
    hs = base.select(
        F.col(id_col),
        F.col("sh"),
        F.transform(F.col("sh"), lambda s: T.md5_hash64(s) % MINHASH_P).alias("_hs"),
    )
    return hs.select(
        F.col(id_col), F.col("sh"), *_minhash_cols(num_hashes)
    ).cache()


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    rows_per_band: int = 3,
    threshold: float = 0.2,
    shingle_n: int = 3,
    eager: bool = False,
) -> DataFrame:
    """Fused MinHash-LSH near-dup pipeline → verified (id_a, id_b, jaccard).

    One shingle explode, ONE aggregation producing both the signature
    (K mins) and the exact shingle set per document; everything
    downstream (banding, bucket self-join, Jaccard verify) consumes the
    tiny per-document frame, which is cached — without the fusion the
    signature and verify branches each re-tokenize the corpus.

    Cache policy: LAZY by default — in cold-session A/B at sf0.1 the
    up-front count job buys nothing (4.4s lazy vs 4.9s eager end to
    end), and branches racing to populate a lazy cache can only
    duplicate partition computes, never change results.
    ``eager=True`` remains available for deterministic one-pass
    materialization when profiling.
    """
    per_doc = fused_doc_frame(df, id_col, text_col, num_hashes, shingle_n)
    if eager:
        per_doc.count()

    band_df = minhash_band_keys(per_doc, id_col, bands, rows_per_band)
    pairs = lsh_candidate_pairs(band_df, id_col)
    sets = per_doc.select(F.col(id_col), "sh")
    return jaccard_verify(pairs, sets, id_col, threshold)


def incremental_lsh_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    rows_per_band: int = 3,
    threshold: float = 0.2,
    shingle_n: int = 3,
) -> DataFrame:
    """Asymmetric new-vs-corpus near-dup screen → verified
    ``(new_id, corpus_id, jaccard)`` — the daily-crawl shape: which of
    today's documents already exist (near-)verbatim in the corpus?

    Why a separate operator from :func:`minhash_lsh_dedup`: the
    symmetric pipeline candidates EVERY same-bucket pair, re-paying
    corpus×corpus collisions on every run.  Here the band join is
    one-directional — new bands probe corpus bands on (band, band_key)
    — so candidate volume is bounded by |new| × bucket density, never
    |corpus|².  IDs must be disjoint across the two frames (they are
    different ingest generations by construction).

    At 100 TB the corpus side of this join is a PERSISTED band index
    (the (id, band, band_key) frame written once, bucketed by
    band_key — operators/zorder.py / bucketed writes set that layout),
    so each increment hashes only its own documents and equi-joins
    into the index; this function expresses the same plan with both
    sides computed fresh, which is what the correctness gate can
    replay.
    """
    per_new = fused_doc_frame(new_df, id_col, text_col, num_hashes, shingle_n)
    per_corpus = fused_doc_frame(
        corpus_df, id_col, text_col, num_hashes, shingle_n
    )
    nb = minhash_band_keys(per_new, id_col, bands, rows_per_band).alias("n")
    cb = minhash_band_keys(per_corpus, id_col, bands, rows_per_band).alias("c")
    pairs = (
        nb.join(
            cb,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # sets from BOTH generations (ids disjoint, so one union frame
    # serves both probe directions of jaccard_verify)
    sets = per_new.select(F.col(id_col), "sh").unionByName(
        per_corpus.select(F.col(id_col), "sh")
    )
    return (
        jaccard_verify(pairs, sets, id_col, threshold)
        .withColumnRenamed("id_a", "new_id")
        .withColumnRenamed("id_b", "corpus_id")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int = 50,
    eager: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index join.

    Cache policy: the per-doc shingle-ARRAY frame is cached (eager at
    the gate call site — r13 measured the lazy cache being raced by
    the plan's concurrent broadcast legs, each recomputing full
    partitions before the cache populated; one up-front
    materialization job fixes that and is construction-state
    deterministic).  Branches racing a lazy cache can duplicate some
    partition computes but never affect results.

    Candidate generation: two docs are candidates iff they share at
    least one *discriminative* shingle — shingles occurring in more
    than ``max_doc_freq`` documents (boilerplate headers, stopword
    runs) are dropped from the index first, which is what keeps the
    posting-list self-join from going quadratic on common text.  The
    Jaccard itself is then computed on the FULL shingle sets (the cap
    only prunes candidate generation, never the similarity value).

    Scale shape (count-based, no array materialization): the shingle
    self-join emits one row per (pair, shared discriminative shingle)
    and ``groupBy(pair).count()`` IS the capped intersection size — one
    shuffle with map-side partials replaces both the old
    ``pairs.distinct()`` and the array-based verify that carried every
    document's full shingle array onto ~N·df candidate rows.  Full-set
    Jaccard is then exact arithmetic: |A∩B| = capped count + the
    hot-shingle overlap (per-doc hot arrays are bounded by the number
    of hot shingles, so that frame broadcasts), |A∪B| = |A|+|B|−|A∩B|
    from a broadcast per-doc size frame.  When even the capped index
    is too dense, MinHash-LSH (``minhash_lsh_dedup``) is the
    sub-linear fallback; this operator is the exact tier.
    """
    from pyspark.sql.functions import broadcast

    # r13: cache the per-doc shingle ARRAY frame (map-only to build —
    # no Generate, no shuffle); the posting rows derive from it by a
    # cheap explode of the cached column, and the per-doc size / hot
    # overlap frames become per-row expressions instead of two more
    # aggregations over the exploded stream.
    base = shingle_arrays(df, id_col, text_col, n).cache()
    if eager:
        base.count()
    sh = base.select(F.col(id_col), F.explode("sh").alias("shingle"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("shingle")
    )
    capped = sh.join(broadcast(hot), "shingle", "left_anti")
    a = capped.alias("a")
    b = capped.alias("b")
    # One row per shared discriminative shingle → count = |A∩B| over the
    # capped index; candidate membership (≥1 shared discriminative
    # shingle) falls out of the same aggregation.
    pair_counts = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("inter_capped"))
    )
    # Per-doc size is a PER-ROW fact of the cached array frame
    # (|distinct shingles| = size(sh)).  The per-doc HOT overlap is a
    # broadcast SEMI join + collect_list over the posting rows
    # (ADVICE r13): with an ABSOLUTE df cap the hot set grows with the
    # corpus, so collecting it into ONE array value risks the ~2 GB
    # single-value ceiling and pays an O(|hot|) hash-set build per
    # document row; the semi-join shape broadcasts ``hot`` as a hash
    # RELATION (no single-value ceiling) and the resulting per-doc hot
    # arrays are bounded by document length, not corpus size.
    hot_per_doc = (
        sh.join(broadcast(hot), "shingle", "semi")
        .groupBy(id_col)
        .agg(F.collect_list("shingle").alias("hot_sh"))
    )
    per_doc = (
        base.select(F.col(id_col), F.size("sh").cast("long").alias("sz"))
        .join(hot_per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("sz"),
            F.coalesce(
                "hot_sh", F.array().cast("array<string>")
            ).alias("hot_sh"),
        )
    )
    pa = per_doc.select(
        F.col(id_col).alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("hot_sh").alias("hot_a"),
    )
    pb = per_doc.select(
        F.col(id_col).alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("hot_sh").alias("hot_b"),
    )
    inter = F.col("inter_capped") + F.size(F.array_intersect("hot_a", "hot_b"))
    jac = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter)
    # pa/pb are one row PER DOCUMENT (corpus cardinality) — never force
    # a broadcast on them: at 100 TB that broadcast grows with the
    # corpus and OOMs.  Plain shuffle-hash/sort-merge joins on the pair
    # ids are key-partitioned and scale; AQE still broadcasts them at
    # small SFs when they genuinely fit.  Only the bounded ``hot``
    # frame (≤ #shingles with df > max_doc_freq) is broadcast above.
    return (
        pair_counts.join(pa, "id_a")
        .join(pb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def blocked_tokens(
    dfreq: DataFrame, docs: DataFrame, df_cap_pct: int
) -> DataFrame:
    """The 1-column ``(tok)`` frame of tokens whose document frequency
    EXCEEDS ``df_cap_pct`` percent of the corpus — the complement of
    the posting df-cap, in its broadcastable form.

    Size bound (corpus-size-independent): Σ df over the vocabulary is
    the total number of distinct (doc, token) postings
    <= ndocs·max_doc_len, so at most (100/df_cap_pct)·max_doc_len
    tokens can each have df > (df_cap_pct/100)·ndocs.  At any corpus
    size the blocked set is a few hundred stopwords — safe to
    broadcast, which turns the df cap from a posting-sized shuffle
    join against dfreq into a broadcast ANTI join (zero shuffle on the
    posting side).  Integer compare (100·df > pct·ndocs) so both
    engines prune identical tokens; the corpus count is a 1-row
    broadcast aggregate, no driver count."""
    ndocs = F.broadcast(docs.groupBy().agg(F.count("*").alias("ndocs")))
    return (
        dfreq.crossJoin(ndocs)
        .filter(F.lit(100) * F.col("df") > F.lit(df_cap_pct) * F.col("ndocs"))
        .select("tok")
    )


def token_df_stats(
    docs: DataFrame,
    df_cap_pct: int | None,
    path: str | None,
    len_cap: int | None = None,
    probe_key: object = None,
) -> tuple[int, int, int, int, int]:
    """Exact ``(ndocs, max_df, max_unblocked_df, est_self_pairs,
    est_cross_pairs)`` over a cached per-doc distinct-token frame
    (column ``toks_ord``, optionally ``prefix``) — the dataset
    statistics the posting-cap dispatch AND the operator-level
    shuffle sizing branch on (r13).

    ``max_unblocked_df`` is the max df among tokens the df-cap would
    KEEP (df <= pct%·ndocs); with no df-cap it equals ``max_df``.

    The pair estimates are the operators' dominant shuffle volume —
    the candidate exchange — measured growing 21× across the
    sf10→sf100 decade (the RELATIVE df-cap unblocks the
    fixed-absolute-df stopword head as ndocs grows), so the operators
    size their shuffle from these numbers, not from table bytes.
    When ``docs`` carries a ``prefix`` column the probe counts the
    PREFIX posting df (``dfp``) — the side the candidate joins
    actually index — which keeps the estimate tight: full-df bounds
    over-provisioned 8× at sf100 (est 7.75e9 vs 790M actual pairs)
    and the resulting 4096 initial partitions REGRESSED task time 39%
    (bucket over-provisioning defeats map-side combine: the pair
    exchange wrote 44 GB at 4096 vs 19.7 GB at 128).  Per kept token:

    - ``est_self_pairs``  = Σ min(dfp, L)²           (prefix self-join)
    - ``est_cross_pairs`` = Σ min(dfp, L)·min(df, L) (prefix × full,
      the containment join's small×big shape)

    Two tiny actions over the already-cached docs frame (the probe
    doubles as the cache materializer the main plan needs anyway);
    memoized per ``path`` (the documents table ``docs`` derives from)
    and ``(df_cap_pct, len_cap, probe_key)`` — ``probe_key`` carries
    anything that changes the prefix definition (the similarity
    threshold), since the cap theorems are prefix-independent but the
    estimates are not."""
    from .stats import memo_stat

    def compute():
        ndocs = docs.count()
        dfreq = (
            docs.select(F.explode("toks_ord").alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("df"))
        )
        if "prefix" in docs.columns:
            dfp = (
                docs.select(F.explode("prefix").alias("tok"))
                .groupBy("tok")
                .agg(F.count("*").alias("dfp"))
            )
            dfreq = dfreq.join(dfp, "tok", "left").na.fill({"dfp": 0})
        else:
            dfreq = dfreq.withColumn("dfp", F.col("df"))
        keep = F.lit(100) * F.col("df") <= F.lit(df_cap_pct or 100) * F.lit(
            ndocs
        )

        def capped(c):
            return (
                F.least(F.col(c), F.lit(len_cap))
                if len_cap is not None
                else F.col(c)
            )

        row = dfreq.agg(
            F.max("df").alias("mx"),
            F.max(F.when(keep, F.col("df"))).alias("mxu"),
            F.sum(F.when(keep, capped("dfp") * capped("dfp"))).alias(
                "selfp"
            ),
            F.sum(F.when(keep, capped("dfp") * capped("df"))).alias(
                "crossp"
            ),
        ).first()
        return (
            ndocs,
            int(row["mx"] or 0),
            int(row["mxu"] or 0),
            int(row["selfp"] or 0),
            int(row["crossp"] or 0),
        )

    return memo_stat(
        path, ("token_df", df_cap_pct, len_cap, probe_key), compute
    )


def prefix_filter_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    posting_df_cap_pct: int | None = None,
    posting_len_cap: int | None = None,
    cap_stats_path: str | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard >= ``threshold``) via
    prefix filtering (Chaudhuri et al. ICDE'06 / PPJoin, Xiao et al.
    WWW'08) — the classical sub-quadratic algorithm for exact
    near-dup joins, complementing the approximate candidate
    generators (MinHash banding) with a NO-FALSE-NEGATIVES guarantee:

    order every document's distinct tokens by ascending global
    document frequency (rarest first, ties by token); if
    J(x, y) >= t, then the first ``|x| - ceil(t*|x|) + 1`` tokens of x
    and the first ``|y| - ceil(t*|y|) + 1`` tokens of y MUST share at
    least one element (prefix-filter lemma), so indexing only those
    prefixes finds every qualifying pair.  A length filter
    (t*|x| <= |y|) prunes further — J(x, y) >= t forces it — and the
    surviving candidates verify exact Jaccard on the full sets.

    Scale shape: the df ordering is one vocabulary-sized aggregate
    joined back (rare tokens dominate prefixes, so posting lists of
    the INDEXED tokens are short by construction — the reason prefix
    filtering beats a full inverted index); candidates shuffle on the
    prefix token; verification is array intersection on colocated
    rows.  Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``posting_df_cap_pct``: optional graceful-degradation cap — drop
    posting entries for tokens present in more than that PERCENT of
    documents (integer compare ``100*df <= pct*ndocs``; the corpus
    count is a 1-row broadcast aggregate, no driver count).  On a
    pathological corpus where even the rarest prefix tokens are
    near-stopwords (every posting list ~O(n)), the exact join's
    candidate set is inherently quadratic; the cap bounds it at the
    cost of missing pairs whose ONLY shared prefix tokens are capped
    — candidates still verify exact Jaccard, so capped output is
    always a SUBSET of the exact output (no false positives; recall
    measured in tests/test_dedup_guarantees.py).  None (default)
    keeps the exact no-false-negatives mode.

    ``posting_len_cap``: optional per-token posting TRUNCATION — keep
    only the first L postings of each token (deterministic rank:
    ROW_NUMBER over (n, id), biased toward shorter documents).  This
    is the cap that actually bounds GROWTH: candidate volume per
    token is <= L^2 regardless of corpus size, so the join degrades
    from exact to fixed-budget as posting lists outgrow L instead of
    going quadratic.  Not binding (== exact) while every posting list
    is shorter than L — the usual state on a Zipfian corpus where
    prefixes are rare tokens.  Both caps compose (df-cap first).

    ``cap_stats_path``: the table ``df`` reads, for memoizing the
    probe (r13, VERDICT r12 #2) — when any cap is requested, an EXACT
    token-df statistic (one aggregation over the already-cached docs
    frame) decides per cap whether it can possibly bind:

    - df-cap applied only when some token's df exceeds pct%·ndocs
      (otherwise ``blocked_tokens`` is provably empty and the
      anti-join is dead machinery);
    - len-cap (the posting-sized ROW_NUMBER sort, the expensive one)
      applied only when some NON-BLOCKED token's df exceeds the cap
      (prefix posting length <= df, so max unblocked df <= L proves
      the truncation keeps every row).

    The probe must be exact, not sampled: unlike the salt dispatch
    (bit-identical plans either way), a capped plan differs in ROWS
    whenever a cap binds, so only "max <= cap" — a theorem — licenses
    skipping it (operators/stats.exact_max_group_rows has the full
    argument).  Skipping a provably-non-binding cap never changes
    output; the capped oracle agrees because its QUALIFY/WHERE keep
    every row in that case too.
    """
    # r13: (id, tok) distinct is PER-DOCUMENT — per-row array_distinct
    # before the explode replaces the corpus-token-sized distinct
    # Exchange the historical shape paid.
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(T.tokens(text_col))).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    # global order: rank tokens by (df, tok); per doc, sort token ranks
    # ascending — rarest first (rank is dense enough for ordering; ties
    # impossible since tok is unique)
    ranked = toks.join(dfreq, "tok").select(
        F.col(id_col),
        F.struct(F.col("df"), F.col("tok")).alias("key"),
        "tok",
    )
    per_doc = ranked.groupBy(id_col).agg(
        F.expr("transform(array_sort(collect_list(struct(key, tok))), s -> s.tok)").alias(
            "toks_ord"
        )
    )
    n = F.size("toks_ord")
    prefix_len = (n - F.ceil(F.lit(threshold) * n) + 1).cast("int")
    docs = per_doc.select(
        F.col(id_col),
        "toks_ord",
        n.alias("n"),
        F.slice("toks_ord", 1, prefix_len).alias("prefix"),
    )
    need_df_cap = posting_df_cap_pct is not None
    need_len_cap = posting_len_cap is not None
    cand_parts = None
    if need_df_cap or need_len_cap:
        # exact per-cap dispatch (see docstring): a provably
        # non-binding cap is skipped, a possibly-binding one applied.
        # The probe runs over the UNCACHED docs plan, BEFORE the
        # .cache() below registers it: a probe through the cached
        # frame materialized the InMemoryRelation at plan-build time
        # on the first (un-memoized) construction only, and Catalyst
        # compiles different join strategies against materialized vs
        # unregistered cache statistics — the same query then pinned
        # 11 Exchanges probe-fresh and 9 on a memo hit (r13, caught by
        # the pin gate).  Probing first keeps the cache unmaterialized
        # at every plan build, so the plan is one deterministic shape.
        ndocs, max_df, max_unblocked, est_pairs, _ = token_df_stats(
            docs, posting_df_cap_pct, cap_stats_path, posting_len_cap,
            probe_key=threshold,
        )
        if need_df_cap and 100 * max_df <= posting_df_cap_pct * ndocs:
            need_df_cap = False
        if need_len_cap and max_unblocked <= posting_len_cap:
            need_len_cap = False
        # operator-level shuffle sizing from the SAME probe (r13): the
        # candidate exchange carries est_pairs (id, id) rows — ~25 B
        # serialized, 32 B budgeted — which at sf100 is ~25× the input
        # table's bytes, invisible to the input-bytes rule.  Sized
        # here so the pair shuffle stays inside the per-task sort
        # budget instead of spilling (measured 24 GB of spill at
        # sf100's table-derived 128 partitions).
        from .stats import exchange_partitions

        cand_parts = exchange_partitions(df.sparkSession, est_pairs * 32)
    docs = docs.cache()
    # ^ three consumers (posting + both verify sides); measured 1.5x at
    # sf0.01.  docs is a groupBy output, so its cached partitioning is
    # AQE's coalesced one (session.py lets AQE change cached plans):
    # with spark.sql.shuffle.partitions partitions instead, every
    # consumer ran that many near-empty tasks
    # (dedup_prefix_filter_capped at sf0.01, local[4]: 523 tasks per
    # execution before, 25 after).  The cache lives until the session
    # drops it — long-lived sessions running many queries should
    # spark.catalog.clearCache() between them (bench.py and
    # tools/check_oracle.py already do).
    posting = docs.select(
        F.col(id_col), "n", F.explode("prefix").alias("tok")
    )
    if cand_parts is not None:
        # the truncation window and the candidate join both reuse it
        posting = posting.repartition(cand_parts, "tok")
    if need_df_cap:
        # df <= cap%  ==  NOT df > cap%: anti-join the tiny blocked
        # (stopword) set, broadcast — zero shuffle on the posting side
        # vs the posting-sized dfreq equi-join this replaced (see
        # blocked_tokens for the corpus-size-independent size bound).
        # df is recomputed from the CACHED docs frame (explode of the
        # per-doc distinct token lists) so the broadcast subtree reads
        # the InMemoryRelation, not the raw-scan dfreq chain.
        dfreq_c = (
            docs.select(F.explode("toks_ord").alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("df"))
        )
        posting = posting.join(
            F.broadcast(blocked_tokens(dfreq_c, docs, posting_df_cap_pct)),
            "tok",
            "anti",
        )
    if need_len_cap:
        from pyspark.sql import Window

        posting = (
            posting.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("tok").orderBy("n", id_col)
                ),
            )
            .filter(F.col("rn") <= posting_len_cap)
            .drop("rn")
        )
    a = posting.alias("a")
    b = posting.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # length filter: J >= t forces t*|x| <= |y| and vice versa
            & (F.col("b.n") * threshold <= F.col("a.n"))
            & (F.col("a.n") * threshold <= F.col("b.n")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sa = docs.select(
        F.col(id_col).alias("id_a"), F.col("toks_ord").alias("sa")
    )
    sb = docs.select(
        F.col(id_col).alias("id_b"), F.col("toks_ord").alias("sb")
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jaccard_expr("sa", "sb").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _simhash_chunk_pairs(
    chunks: DataFrame, id_col: str, max_hamming: int
) -> DataFrame:
    """(id_a, id_b, hamming) from ``(id_col, simhash, pos, chunk)`` rows:
    documents sharing a chunk value at the same position become
    candidates (an equi-join on (pos, chunk), id_a < id_b, deduplicated
    across positions), kept iff the popcount of their fingerprints' XOR
    is <= ``max_hamming``."""
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col("a.simhash").alias("fp_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("b.simhash").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``,
    found through the banded multi-index (Manku et al., WWW'07 — the
    production web-scale near-dup shape): the ``bits``-bit fingerprint
    splits into ``bands`` equal chunks; two documents become candidates
    iff SOME chunk matches exactly (an equi-join per chunk position,
    never an all-pairs scan), then candidates verify the true popcount
    of the XOR.

    Recall contract (pigeonhole): a pair within Hamming distance
    ``bands - 1`` ALWAYS shares an untouched chunk and is found; pairs
    with distance in (bands-1, max_hamming] are found only when their
    differing bits happen to cluster — raise ``bands`` (or probe
    rotated fingerprints) to push the guarantee up.  This is the
    Hamming analog of MinHash banding's (r, b) trade.

    Scale shape: fingerprinting is ``bits`` map-combined conditional
    sums (zero extra shuffle over the 16-bit variant); the candidate
    join shuffles on (chunk position, chunk value) — fan-out bounded by
    bucket density exactly like LSH bands; verification is one integer
    XOR+popcount on already-joined rows.  Candidate volume is
    Σ_buckets occupancy², so CHUNK WIDTH MUST GROW with the corpus
    (width ≈ log₂(n) keeps expected occupancy constant): at 10× the
    default 12-bit chunks measured 3.2× wall (SCALE.md r6) — at
    cluster scale use a 64-bit fingerprint with 4×16-bit or 6×13-bit
    chunks, exactly the b·r trade MinHash banding makes.
    """
    if bits % bands:
        raise ValueError(f"bits ({bits}) must divide into {bands} bands")
    width = bits // bands
    mask = (1 << width) - 1
    fp = simhash_fingerprints(df, id_col, text_col, bits=bits)
    chunks = fp.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", i * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(bands)
                ]
            )
        ).alias("pos", "chunk"),
    )
    return _simhash_chunk_pairs(chunks, id_col, max_hamming)


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(id, simhash) portable SimHash over whitespace tokens, MAP-ONLY
    (r13).

    Per row: one md5 hash per token (``transform``), then per bit a
    set-bit count over the hash array — bit b of the fingerprint is set
    iff 2·count_b > n_tokens, which is exactly the historical
    +1/−1 vote sum being positive (vote_b = 2·count_b − n).  Zero
    shuffles; the explode → ``bits``-way agg → distinct → left-join
    shape paid three Exchanges for the same values.  Documents with no
    tokens get fingerprint 0 (every count is 0, no bit set).
    """
    hs = F.transform(T.tokens(text_col), lambda t: T.md5_hash64(t))
    base = df.select(F.col(id_col), hs.alias("_hs"))
    n = F.size("_hs")
    fp = None
    for b in range(bits):
        cnt = F.size(
            F.filter(
                F.col("_hs"),
                (lambda bb: (lambda h: h.bitwiseAND(F.lit(1 << bb).cast("long")) != 0))(
                    b
                ),
            )
        )
        bit = F.when(cnt * 2 > n, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = bit if fp is None else fp + bit
    return base.select(F.col(id_col), fp.alias("simhash"))


def simhash_adaptive_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 48,
    max_hamming: int = 6,
    load_margin: int = 1,
) -> DataFrame:
    """:func:`simhash_hamming_pairs` with the chunk width DERIVED FROM
    THE CORPUS SIZE instead of fixed — the production rule its
    docstring promises (Manku et al., WWW'07 §3: candidate volume is
    sum-of-occupancy-squared, so expected bucket occupancy stays
    constant only when chunk width grows ~log2(n)).

    Width rule, exact integer math on both engines (no float log2 —
    ceil(log2) at a power-of-2 boundary is an engine-rounding hazard):

        need  = length(bin(n)) + load_margin   -- floor(log2 n)+1+margin
        width = smallest divisor of ``bits`` in {8,12,16,24} >= need
                (else 24, keeping bands >= 2)

    margin=1 targets mean occupancy ~1/2 per bucket.  The b*r trade is
    explicit: growing width shrinks bands (48 -> 6x8, 4x12, 3x16,
    2x24), so the pigeonhole recall guarantee (distance <= bands-1
    always found) weakens as the corpus grows — at bands=2 only
    distance <= 1 is guaranteed, exactly the trade Manku resolves by
    widening the fingerprint (use bits=64+ at cluster scale).

    The plan is FULLY declarative — no driver-side ``.count()``: the
    corpus count is a 1-row aggregate broadcast onto the fingerprints
    (same scalar-subquery-broadcast shape the repo's percentile
    queries use), chunk extraction shifts by a COLUMN (pos*width), and
    the static explode bound is ``bits``/8 = max bands.  Everything
    downstream (bucket equi-join on (pos, chunk), XOR+popcount
    verify) is unchanged from the fixed-width form.
    """
    if bits % 24 or bits < 24:
        raise ValueError(f"bits ({bits}) must be a multiple of 24 (>= 24)")
    # Divisor widths scale with bits (bits=48 -> 8/12/16/24); the CASE
    # thresholds below assume the 48-bit default's ladder scaled by
    # bits/48 so wider fingerprints keep the same band counts.
    u = bits // 48
    w8, w12, w16, w24 = 8 * u, 12 * u, 16 * u, 24 * u
    fp = simhash_fingerprints(df, id_col, text_col, bits=bits)
    need = F.length(F.bin(F.count(F.lit(1)))) + F.lit(load_margin)
    plan = df.groupBy().agg(
        F.when(need <= w8, w8)
        .when(need <= w12, w12)
        .when(need <= w16, w16)
        .otherwise(w24)
        .alias("width")
    ).select(
        "width",
        (F.lit(bits) / F.col("width")).cast("int").alias("bands"),
        # F.shiftleft only takes a literal shift; the column-shift form
        # needs the SQL expression.
        F.expr("shiftleft(CAST(1 AS BIGINT), width) - 1").alias("mask"),
    )
    chunks = (
        fp.crossJoin(F.broadcast(plan))
        .select(
            F.col(id_col),
            "simhash",
            F.explode(F.sequence(F.lit(0), F.lit(bits // 8 - 1))).alias(
                "pos"
            ),
            "width",
            "bands",
            "mask",
        )
        .filter(F.col("pos") < F.col("bands"))
        .select(
            F.col(id_col),
            "simhash",
            "pos",
            F.expr("shiftright(simhash, pos * width) & mask").alias(
                "chunk"
            ),
        )
    )
    return _simhash_chunk_pairs(chunks, id_col, max_hamming)
