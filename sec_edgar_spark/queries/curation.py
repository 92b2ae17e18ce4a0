"""Dataset-curation queries (operators/sampling.py on the oracle gate).

The md5-based hash is engine-portable, so sampling/split/packing
decisions — not just aggregates of them — are value-checked against
DuckDB row by row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import text as T
from .registry import query

# DuckDB twin of functions/text.md5_hash64 (60-bit md5 prefix).
_H = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"


@query(
    "curation_split_train_val_test",
    oracle=f"""
    SELECT doc_id,
      CAST({_H} % 100 AS BIGINT) AS bucket,
      CASE WHEN {_H} % 100 >= 90 THEN 'test'
           WHEN {_H} % 100 >= 80 THEN 'val'
           ELSE 'train' END AS split
    FROM documents
    """,
)
def curation_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by doc-key hash — stable across
    re-runs/partitionings (never rand()); the split decision itself is
    on the value gate."""
    from ..operators.sampling import hash_bucket, split_assign

    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        hash_bucket("doc_id").alias("bucket"),
        split_assign("doc_id", val_pct=10, test_pct=10).alias("split"),
    )


@query(
    "curation_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), x -> x <> ''))
             AS INT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
      CAST(floor((SUM(n_tokens) OVER (
          PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) - n_tokens) / 512.0) AS BIGINT) AS pack_id
    FROM t
    """,
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing into ~512-token training sequences,
    sharded per language (one window per shard — packing parallelizes
    across partitions; a doc straddling a boundary joins the pack
    where it starts)."""
    from ..functions import text as T
    from ..operators.sampling import pack_sequences

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", T.token_count("text").alias("n_tokens")
    )
    return pack_sequences(
        d, order_col="doc_id", token_count_col="n_tokens",
        budget=512, partition_col="lang",
    )


@query(
    "curation_decontaminate",
    oracle="""
    WITH tokd AS (
      SELECT doc_id,
        list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), shingled AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(1, greatest(len(toks) - 7, 0) + 1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
               toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
               toks[i+6] || ' ' || toks[i+7])) AS sh
      FROM tokd
    ), train_sh AS (
      SELECT doc_id, unnest(sh) AS shingle FROM shingled WHERE doc_id % 13 <> 0
    ), eval_sh AS (
      SELECT DISTINCT unnest(sh) AS shingle FROM shingled WHERE doc_id % 13 = 0
    )
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlapping_shingles
    FROM train_sh t JOIN eval_sh e ON t.shingle = e.shingle
    GROUP BY t.doc_id
    """,
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: train docs (doc_id % 13 != 0)
    sharing any 8-gram with the held-out eval slice (doc_id % 13 = 0).
    Inverted-index semi-join on the shingle — never all-pairs."""
    from ..operators.sampling import decontaminate

    d = table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 13 != 0)
    eval_df = d.filter(F.col("doc_id") % 13 == 0)
    return decontaminate(train, eval_df, "doc_id", "text", n=8)


@query(
    "curation_pipeline",
    oracle=f"""
    WITH stats AS (
      SELECT doc_id, text, lang,
        len(list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), x -> x <> ''))
          AS n_tokens,
        CAST(len(regexp_extract_all(COALESCE(text, ''), '[A-Za-z]')) AS DOUBLE)
          / greatest(length(text), 1) AS alpha_ratio
      FROM documents
    ), quality AS (
      SELECT * FROM stats WHERE n_tokens >= 10 AND alpha_ratio > 0.5
    ), deduped AS (
      SELECT doc_id, lang, n_tokens FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    )
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
      CASE WHEN {_H} % 100 >= 90 THEN 'test'
           WHEN {_H} % 100 >= 80 THEN 'val'
           ELSE 'train' END AS split,
      CAST(floor((SUM(n_tokens) OVER (
          PARTITION BY (CASE WHEN {_H} % 100 >= 90 THEN 'test'
                        WHEN {_H} % 100 >= 80 THEN 'val'
                        ELSE 'train' END)
          ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) - n_tokens) / 512.0) AS BIGINT) AS pack_id
    FROM deduped
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data intake pipeline on one gate row:
    quality gate (token count + alpha ratio) → exact dedup (first doc
    per content hash) → deterministic split assignment → per-split
    sequence packing.  Each stage is the production operator; the
    oracle recomputes the whole chain in SQL, so stage COMPOSITION is
    value-checked, not just the stages."""
    from ..functions import text as T
    from ..operators.sampling import pack_sequences, split_assign

    d = table(spark, sf_dir, "documents")
    n_tokens = T.token_count("text")
    alpha_ratio = T.alpha_chars("text").cast("double") / F.greatest(
        F.length("text"), F.lit(1)
    )
    quality = d.select(
        "doc_id", "text", "lang", n_tokens.alias("n_tokens")
    ).filter((F.col("n_tokens") >= 10) & (alpha_ratio > 0.5))

    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    deduped = (
        quality.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    split = deduped.withColumn("split", split_assign("doc_id"))
    return pack_sequences(
        split, order_col="doc_id", token_count_col="n_tokens",
        budget=512, partition_col="split",
    ).select("doc_id", "lang", F.col("n_tokens").cast("int").alias("n_tokens"), "split", "pack_id")


@query("curation_pack_ffd")  # no SQL oracle: FFD is order-dependent
def curation_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing per language shard (applyInPandas).
    Genuinely non-SQL-expressible (the pack assignment depends on the
    running bin state), so this rides the driver's rows-only check;
    the invariants (fill ≤ budget, all docs packed) are pytest-asserted
    in tests/test_sampling.py."""
    from ..functions import text as T
    from ..operators.sampling import pack_sequences_ffd

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", T.token_count("text").cast("long").alias("n_tokens")
    )
    return pack_sequences_ffd(
        d, "doc_id", "n_tokens", budget=512, partition_col="lang"
    )


@query(
    "curation_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang,
      CAST({_H} % 100 AS BIGINT) AS bucket
    FROM documents
    WHERE {_H} % 100 < CASE lang
      WHEN 'en' THEN 30 WHEN 'fr' THEN 80 WHEN 'de' THEN 80
      WHEN 'es' THEN 80 WHEN 'zh' THEN 80 ELSE 0 END
    """,
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling — the corpus-rebalancing
    primitive (downweight the dominant language, keep the tail).  The
    per-stratum rate compiles to a literal map lookup, so the whole
    thing is a pushable stateless filter; every kept row is on the
    value gate."""
    from ..operators.sampling import hash_bucket, stratified_sample

    d = table(spark, sf_dir, "documents")
    rates = {"en": 30, "fr": 80, "de": 80, "es": 80, "zh": 80}
    kept = stratified_sample(d, "doc_id", "lang", rates)
    return kept.select(
        "doc_id", "lang", hash_bucket("doc_id").alias("bucket")
    )


@query(
    "curation_domain_mix",
    oracle="""
    WITH t(lang, w) AS (VALUES
      ('en', 0.4), ('de', 0.15), ('es', 0.15), ('fr', 0.15), ('zh', 0.15)
    ), counts AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), total AS (
      SELECT MIN(CAST(floor(n / w) AS BIGINT)) AS n_total
      FROM counts JOIN t USING (lang)
    ), quota AS (
      SELECT t.lang, CAST(floor(w * n_total) AS BIGINT) AS k
      FROM t CROSS JOIN total
    ), ranked AS (
      SELECT doc_id, lang, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      ) AS sample_rank
      FROM documents
    )
    SELECT r.doc_id, r.lang, r.sample_rank
    FROM ranked r JOIN quota q ON r.lang = q.lang
    WHERE r.sample_rank <= q.k
    """,
)
def curation_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota domain mixing: downsample each stratum (language
    here; source/domain identically) so the kept corpus matches a
    target mix — the data-recipe primitive behind "40% en / 15% each
    of de-es-fr-zh" training mixes.

    The largest achievable corpus is N' = min_s floor(n_s / w_s)
    (binding stratum kept whole-ish, everything else downsampled);
    per-stratum quota k_s = floor(w_s * N'); membership is the k_s
    lowest md5(doc_id) ranks — fully deterministic, no rand().

    Scale shape: stratum counts are a tiny hash agg; N' and quotas
    derive on that dimension table (broadcast both ways, never a
    collect).  Exact quotas need a per-stratum rank (one shuffle on
    lang).  At 100 TB swap the rank for the rate-based hash-threshold
    gate of curation_stratified_sample (stateless filter, no shuffle)
    and accept ±epsilon quota error — same semantics, documented
    trade.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    d = table(spark, sf_dir, "documents", spread=True)
    targets = spark.createDataFrame(
        [("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)],
        "lang string, w double",
    )
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    n_total = (
        counts.join(broadcast(targets), "lang")
        .select(F.floor(F.col("n") / F.col("w")).cast("bigint").alias("cap"))
        .agg(F.min("cap").alias("n_total"))
    )
    quota = targets.crossJoin(broadcast(n_total)).select(
        "lang", F.floor(F.col("w") * F.col("n_total")).cast("bigint").alias("k")
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select(
        "doc_id", "lang", F.row_number().over(w).cast("bigint").alias("sample_rank")
    )
    return (
        ranked.join(broadcast(quota), "lang")
        .filter(F.col("sample_rank") <= F.col("k"))
        .select("doc_id", "lang", "sample_rank")
    )


@query(
    "curation_chunk_windows",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), t -> t <> '') AS ts
      FROM documents
    ), chunks AS (
      SELECT doc_id, len(ts) AS n_doc_tokens,
        unnest(list_transform(
          range(0, CAST(floor((len(ts) - 1) / 24) AS BIGINT) + 1),
          k -> struct_pack(
            chunk_id := k,
            tok_start := k * 24,
            chunk := ts[k * 24 + 1 : least(k * 24 + 32, len(ts))]
          ))) AS c
      FROM toks WHERE len(ts) > 0
    )
    SELECT doc_id, CAST(c.chunk_id AS BIGINT) AS chunk_id,
      CAST(c.tok_start AS BIGINT) AS tok_start,
      CAST(len(c.chunk) AS INT) AS n_chunk_tokens,
      md5(array_to_string(c.chunk, ' ')) AS chunk_md5,
      CAST(n_doc_tokens AS INT) AS n_doc_tokens
    FROM chunks
    """,
)
def curation_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking with overlap (window 32, stride 24):
    split each document's token stream into model-context-sized
    overlapping windows — the sequence-preparation step between
    cleaning and packing in a pretraining pipeline.

    Chunks assemble per row with ``transform`` over the materialized
    token array (slice + array_join are codegen'd; no shuffle, no
    window function — the same zero-shuffle shape as shingling) and
    one explode emits a row per chunk.  Emits the chunk md5 rather
    than the text so downstream exact-dedup of chunks is join-ready
    (and the oracle comparison stays compact).

    Linear in token count at any scale; explode fan-out is
    ceil(n/stride) rows per doc, bounded by n/24 + 1.
    """
    W, S = 32, 24
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", T.tokens("text").alias("_toks")
    ).filter(F.size("_toks") > 0)
    n = F.size("_toks")
    n_chunks = F.floor((n - 1) / S).cast("bigint") + 1
    chunk_arr = F.transform(
        F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
        lambda k: F.struct(
            k.alias("chunk_id"),
            (k * S).alias("tok_start"),
            F.slice(
                "_toks",
                (k * S + 1).cast("int"),
                F.least(F.lit(W), n - (k * S).cast("int")).cast("int"),
            ).alias("chunk"),
        ),
    )
    return (
        toks.select("doc_id", n.alias("n_doc_tokens"), F.explode(chunk_arr).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").cast("bigint").alias("chunk_id"),
            F.col("c.tok_start").cast("bigint").alias("tok_start"),
            F.size("c.chunk").cast("int").alias("n_chunk_tokens"),
            F.md5(F.array_join("c.chunk", " ")).alias("chunk_md5"),
            F.col("n_doc_tokens").cast("int").alias("n_doc_tokens"),
        )
    )


@query(
    "curation_temperature_sample",
    oracle="""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), nmin AS (
      SELECT MIN(n) AS n_min FROM counts
    ), quota AS (
      SELECT lang,
        CAST(floor(sqrt(CAST(n * n_min AS DOUBLE))) AS BIGINT) AS k
      FROM counts CROSS JOIN nmin
    ), ranked AS (
      SELECT doc_id, lang, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      ) AS sample_rank
      FROM documents
    )
    SELECT r.doc_id, r.lang, r.sample_rank
    FROM ranked r JOIN quota q ON r.lang = q.lang
    WHERE r.sample_rank <= q.k
    """,
)
def curation_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened stratum sampling (τ=2): keep
    k_s = floor(√(n_s·n_min)) documents of each language — the
    geometric mean of the stratum size and the SMALLEST stratum.  The
    tail language survives whole, the head shrinks toward it with
    kept-share ∝ n_s^(1/τ-1) = n_s^(-1/2) — the multilingual-corpus
    rebalancing rule (temperature sampling, without replacement) that
    sits between "natural mix" (τ=1) and "uniform" (τ=∞).

    Determinism: n_s·n_min is exact int64 (< 2^53 at any realistic
    stratum count), IEEE sqrt is correctly rounded so both engines
    floor the same value, and membership is the md5(doc_id) rank — no
    rand(), same rule as curation_domain_mix.  No cross-stratum float
    SUM anywhere (a Σ√n_s normalizer would be partial-order-dependent
    — why the quota is anchored at n_min instead).

    Scale shape: counts is a stratum-sized agg that broadcasts; ranks
    are one window partitioned by the stratum key (each partition
    streams); the filter is rank <= k.
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    nmin = counts.agg(F.min("n").alias("n_min"))
    quota = counts.crossJoin(F.broadcast(nmin)).select(
        "lang",
        F.floor(F.sqrt((F.col("n") * F.col("n_min")).cast("double")))
        .cast("bigint")
        .alias("k"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select(
        "doc_id", "lang", F.row_number().over(w).cast("bigint").alias("sample_rank")
    )
    return ranked.join(F.broadcast(quota), "lang").filter(
        F.col("sample_rank") <= F.col("k")
    ).select("doc_id", "lang", "sample_rank")


@query(
    "curation_snapshot_diff",
    oracle="""
    WITH prev AS (
      SELECT doc_id,
        md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END) AS h
      FROM documents WHERE doc_id % 11 <> 0
    ), curr AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 13 <> 0
    ), st AS (
      SELECT COALESCE(c.doc_id, p.doc_id) AS doc_id,
        CASE WHEN p.doc_id IS NULL THEN 'added'
             WHEN c.doc_id IS NULL THEN 'removed'
             WHEN p.h <> c.h THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM curr c FULL OUTER JOIN prev p USING (doc_id)
    )
    SELECT status, COUNT(*) AS n_docs,
      MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM st GROUP BY status
    """,
)
def curation_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning primitive: compare
    two corpus versions by content hash and classify every doc as
    added / removed / changed / unchanged (what an incremental
    retraining pipeline consumes to reprocess only the delta).  The
    two snapshots derive deterministically from the same table (prev
    drops every 11th doc = later additions, curr drops every 13th =
    deletions, every 7th doc's prev text is perturbed = changes), so
    both engines replay the identical diff and all four statuses
    appear.

    Scale shape: one md5 per doc per side, a FULL OUTER equi-join on
    the id, and a 4-group rollup — content hashing makes the compare
    O(|docs|) bytes instead of shipping text twice, and the join is
    the only shuffle.  At 100 TB the hashes live in the snapshot
    manifests, so the diff never touches raw text at all.
    """
    d = table(spark, sf_dir, "documents")
    curr = d.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    prev = (
        d.filter(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(F.col("text"), F.lit(" v1")),
                ).otherwise(F.col("text"))
            ).alias("h"),
        )
    )
    c = curr.alias("c")
    p = prev.alias("p")
    st = c.join(p, F.col("c.doc_id") == F.col("p.doc_id"), "full_outer").select(
        F.coalesce(F.col("c.doc_id"), F.col("p.doc_id")).alias("doc_id"),
        F.when(F.col("p.doc_id").isNull(), "added")
        .when(F.col("c.doc_id").isNull(), "removed")
        .when(F.col("p.h") != F.col("c.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return st.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# DSIR-style importance resampling (Xie et al. 2023): score each
# document by how much its hashed-bigram distribution resembles the
# TARGET domain (here lang='en') relative to the raw corpus.  4096
# feature buckets; add-one smoothing; the per-feature likelihood ratio
# is three exact double divisions (rational, no transcendentals — the
# repo-wide oracle discipline), and the per-doc sum folds in sorted
# bucket order so double summation is bit-identical across engines.
_DSIR_B = 4096
_DSIR_TARGET = "en"


@query(
    "curation_dsir_select",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {{toks}} AS ts FROM documents
    ), big AS (
      SELECT doc_id, lang,
        unnest(list_transform(range(1, len(ts)),
                              i -> ts[i] || ' ' || ts[i+1])) AS bg
      FROM toks WHERE len(ts) >= 2
    ), feat AS (
      SELECT doc_id, lang,
        CAST('0x' || substr(md5(bg), 1, 15) AS BIGINT) % {_DSIR_B} AS b
      FROM big
    ), docfeat AS (
      SELECT doc_id, b, COUNT(*) AS n FROM feat GROUP BY 1, 2
    ), tcnt AS (
      SELECT b, COUNT(*) AS ct FROM feat
      WHERE lang = '{_DSIR_TARGET}' GROUP BY b
    ), rcnt AS (
      SELECT b, COUNT(*) AS cr FROM feat GROUP BY b
    ), tot AS (
      SELECT (SELECT COUNT(*) FROM feat WHERE lang = '{_DSIR_TARGET}') AS nt,
             (SELECT COUNT(*) FROM feat) AS nr
    ), ratio AS (
      SELECT r.b,
        ((COALESCE(t.ct, 0) + 1) / CAST(tot.nt + {_DSIR_B} AS DOUBLE))
          / ((r.cr + 1) / CAST(tot.nr + {_DSIR_B} AS DOUBLE)) AS rt
      FROM rcnt r LEFT JOIN tcnt t ON r.b = t.b CROSS JOIN tot
    ), scored AS (
      SELECT d.doc_id,
        CAST(SUM(d.n) AS BIGINT) AS n_feats,
        list_reduce(
          list_prepend(CAST(0 AS DOUBLE), list_transform(
            list_sort(list(struct_pack(b := d.b, c := d.n * rt.rt))),
            s -> s.c)),
          (x, y) -> x + y) AS tot_ratio
      FROM docfeat d JOIN ratio rt ON d.b = rt.b
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_feats, tot_ratio / n_feats AS score,
      tot_ratio / n_feats >= 1.0 AS selected
    FROM scored
    """.replace("{toks}", "list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), t -> t <> '')"),
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, 'Data Selection for
    Language Models via Importance Resampling'): score every document
    by the mean hashed-bigram likelihood ratio between a TARGET domain
    (lang='en') and the raw corpus; ``selected`` marks docs that look
    more target-like than raw (score >= 1).  The production form
    resamples with these weights to build a target-matched pretraining
    mix; the score column IS that sampling weight.

    Scale shape: feature hashing needs NO vocabulary (one explode +
    map-combined counts); the bucket statistics are two fixed-width
    aggregates (4096 rows each) broadcast back onto per-doc features;
    the corpus-size totals ride along as a broadcast 1-row aggregate.
    Nothing in the pipeline grows with vocabulary — the reason DSIR
    scales to web corpora where fitted-vocabulary classifiers don't.
    Per-feature ratios are rational (add-one smoothed, three exact
    double divisions); per-doc sums fold in sorted bucket order for
    engine-exact doubles.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", "lang", T.tokens("text").alias("ts")).filter(
        F.size("ts") >= 2
    )
    big = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("ts", i.cast("int")),
                    F.element_at("ts", (i + 1).cast("int")),
                ),
            )
        ).alias("bg"),
    )
    feat = big.select(
        "doc_id", "lang", (T.md5_hash64("bg") % _DSIR_B).alias("b")
    ).cache()
    docfeat = feat.groupBy("doc_id", "b").agg(F.count("*").alias("n"))
    tcnt = (
        feat.filter(F.col("lang") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    rcnt = feat.groupBy("b").agg(F.count("*").alias("cr"))
    tot = feat.agg(
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET, 1).otherwise(0)
        ).alias("nt"),
        F.count("*").alias("nr"),
    )
    ratio = (
        rcnt.join(tcnt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                (
                    (F.coalesce("ct", F.lit(0)) + 1)
                    / (F.col("nt") + _DSIR_B).cast("double")
                )
                / ((F.col("cr") + 1) / (F.col("nr") + _DSIR_B).cast("double"))
            ).alias("rt"),
        )
    )
    scored = (
        docfeat.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_feats"),
            F.array_sort(
                F.collect_list(
                    F.struct("b", (F.col("n") * F.col("rt")).alias("c"))
                )
            ).alias("cs"),
        )
        .select(
            "doc_id",
            "n_feats",
            (
                F.aggregate(
                    "cs", F.lit(0.0), lambda acc, s: acc + s["c"]
                )
                / F.col("n_feats")
            ).alias("score"),
        )
    )
    return scored.select(
        "doc_id",
        "n_feats",
        "score",
        (F.col("score") >= 1.0).alias("selected"),
    )


# End-to-end pretraining export: shard checksums are md5 over the
# comma-joined token-id stream in written order — computed by DuckDB
# from SQL and by Spark from the BYTES READ BACK off disk, so the
# oracle match certifies the full chain INCLUDING the binary
# round-trip, not just the logical plan.
_EXPORT_VOCAB = 50_000
_EXPORT_SHARDS = 8

_EXPORT_SQL = f"""
    WITH stats AS (
      SELECT doc_id, text,
        list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), x -> x <> '')
          AS toks,
        CAST(len(regexp_extract_all(COALESCE(text, ''), '[A-Za-z]')) AS DOUBLE)
          / greatest(length(text), 1) AS alpha_ratio
      FROM documents
    ), quality AS (
      SELECT * FROM stats WHERE len(toks) >= 10 AND alpha_ratio > 0.5
    ), deduped AS (
      SELECT doc_id, toks FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ), train0 AS (
      SELECT doc_id, toks FROM deduped
      WHERE {_H} % 100 < 80 AND doc_id % 13 <> 0
    ), shingled AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(1, greatest(len(toks) - 7, 0) + 1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
               toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
               toks[i+6] || ' ' || toks[i+7])) AS sh
      FROM stats
    ), eval_sh AS (
      SELECT DISTINCT unnest(sh) AS shingle FROM shingled
      WHERE doc_id % 13 = 0
    ), contaminated AS (
      SELECT DISTINCT s.doc_id
      FROM (SELECT doc_id, unnest(sh) AS shingle FROM shingled) s
      JOIN eval_sh e ON s.shingle = e.shingle
    ), clean AS (
      SELECT t.doc_id, t.toks FROM train0 t
      ANTI JOIN contaminated c ON t.doc_id = c.doc_id
    ), tokenized AS (
      SELECT doc_id,
        list_transform(toks,
          t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)
               % {_EXPORT_VOCAB}) AS ids,
        len(toks) AS n_tokens,
        {_H} % {_EXPORT_SHARDS} AS shard
      FROM clean
    ), packed AS (
      SELECT *, CAST(floor((SUM(n_tokens) OVER (
          PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) - n_tokens) / 512.0) AS BIGINT) AS pack_id
      FROM tokenized
    )
    SELECT CAST(shard AS VARCHAR) AS shard,
      CAST(COUNT(*) AS BIGINT) AS n_seqs,
      CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      md5(array_to_string(
        flatten(list(ids ORDER BY pack_id, doc_id)), ',')) AS checksum
    FROM packed GROUP BY shard
    """


@query("curation_export_shards", oracle=_EXPORT_SQL)
def curation_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE pretraining last mile as one composed pipeline:
    quality gate → exact dedup → train-split assignment →
    8-gram decontamination (against the held-out doc_id%13 eval
    slice) → deterministic tokenization → per-shard contiguous
    packing → BINARY token-shard export (sources/shards.
    write_token_shards, one task per shard, driver-committed
    manifest) → read-back.

    The returned frame is the per-shard manifest RECONSTRUCTED FROM
    THE BYTES ON DISK (read_token_shards): (shard, n_seqs, n_tokens,
    checksum) where checksum = md5 of the comma-joined token stream
    in written (pack_id, doc_id) order.  The oracle computes the same
    four columns purely in SQL, so a value match certifies every
    stage AND the uint16 little-endian round-trip — if the writer
    dropped, reordered, truncated or wrote a single token id wrong,
    the checksum diverges.

    Scale shape: every stage is the production operator (hash gates
    pushable, dedup/decontamination are hash/shingle equi-joins,
    packing one window per hash shard, one writer task per shard —
    shard count is the write-parallelism knob).  The checksum
    aggregation is the VERIFICATION query's cost, not the export's:
    production calls write_token_shards and trusts the manifest.
    SIDE-EFFECTING PIPELINE: the export itself is eager (the sink
    runs when the query is built); re-runs overwrite atomically and
    re-commit the manifest, so the returned frame always reflects the
    latest complete export.  The export root comes from
    ``spark.sec_edgar.shard_root`` when set; the default is
    per-process (``/tmp/spark_graft_shards_<pid>/<sf>``), so two
    concurrent gate runs on the same sf_dir write disjoint roots and
    cannot interleave one process's overwrite with another's
    checksum read-back.
    """
    import os as _os

    from ..operators.sampling import (
        decontaminate,
        hash_bucket,
        pack_sequences,
        split_assign,
    )
    from ..sources.shards import (
        read_token_shards,
        tokenize_ids,
        write_token_shards,
    )

    d = table(spark, sf_dir, "documents", spread=True)
    n_tokens = T.token_count("text")
    alpha_ratio = T.alpha_chars("text").cast("double") / F.greatest(
        F.length("text"), F.lit(1)
    )
    quality = d.select("doc_id", "text").filter(
        (n_tokens >= 10) & (alpha_ratio > 0.5)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy(
        "doc_id"
    )
    deduped = (
        quality.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text")
    )
    train = deduped.filter(
        (split_assign("doc_id") == "train") & (F.col("doc_id") % 13 != 0)
    )
    flagged = decontaminate(
        train, d.filter(F.col("doc_id") % 13 == 0), "doc_id", "text", n=8
    ).select("doc_id")
    clean = train.join(flagged, "doc_id", "anti")
    toks = tokenize_ids(clean, "doc_id", "text", vocab_size=_EXPORT_VOCAB)
    sharded = toks.withColumn(
        "shard", hash_bucket("doc_id", _EXPORT_SHARDS).cast("string")
    )
    packed = pack_sequences(
        sharded, order_col="doc_id", token_count_col="n_tokens",
        budget=512, partition_col="shard",
    )
    conf_root = spark.conf.get("spark.sec_edgar.shard_root", None)
    if conf_root:
        base = conf_root
    else:
        base = _os.path.join("/tmp", f"spark_graft_shards_{_os.getpid()}")
        # The pid-default root is a per-process scratch export: remove
        # it at interpreter exit so repeated gate/bench/test processes
        # don't accumulate orphaned shard trees in /tmp (code review
        # r8).  A conf-specified root is the caller's to manage.
        import atexit
        import shutil

        atexit.register(shutil.rmtree, base, ignore_errors=True)
    root = _os.path.join(
        base, _os.path.basename(sf_dir.rstrip("/") or "sf")
    )
    write_token_shards(packed, root, shard_col="shard")
    rt = read_token_shards(spark, root)
    flat = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seq_idx", "token_ids"))),
            lambda s: s["token_ids"],
        )
    )
    return rt.groupBy("shard").agg(
        F.count("*").alias("n_seqs"),
        F.sum(F.size("token_ids")).alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(flat, lambda x: x.cast("string")), ","
            )
        ).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Round-8 curation additions: CCNet-style per-domain surprisal
# bucketing, the contamination REPORT (the flip side of the
# decontaminate filter), and DoReMi-lite static mixture reweighting.

_TOKENS_SQL = "list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), t -> t <> '')"


def _ccnet_oracle() -> str:
    from .registry import ORACLES

    sp = ORACLES["text_surprisal_score"]
    return f"""
    WITH sp AS ({sp}), lg AS (
      SELECT d.source, s.doc_id, s.bits_total, s.n_tokens
      FROM sp s JOIN documents d USING (doc_id)
    ), hist AS (
      SELECT source, bits_total, n_tokens, COUNT(*) AS cnt
      FROM lg GROUP BY source, bits_total, n_tokens
    ), cum AS (
      SELECT source, bits_total, n_tokens, cnt,
        SUM(cnt) OVER (
          PARTITION BY source
          ORDER BY CAST(bits_total AS DOUBLE) / n_tokens, bits_total,
                   n_tokens) AS cum
      FROM hist
    ), stats AS (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs
      FROM hist GROUP BY source
    ), cuts AS (
      SELECT source, n_docs,
        CAST((n_docs * 1) // 3 AS BIGINT) AS c1,
        CAST((n_docs * 2) // 3 AS BIGINT) AS c2
      FROM stats
    )
    SELECT c.source, c.n_docs,
      CAST(SUM(CASE WHEN h.cum <= c.c1 THEN h.cnt ELSE 0 END)
           AS BIGINT) AS n_head,
      CAST(SUM(CASE WHEN h.cum > c.c1 AND h.cum <= c.c2 THEN h.cnt
               ELSE 0 END) AS BIGINT) AS n_middle,
      CAST(SUM(CASE WHEN h.cum > c.c2 THEN h.cnt ELSE 0 END)
           AS BIGINT) AS n_tail
    FROM cuts c JOIN cum h ON c.source = h.source
    WHERE c.n_docs >= 3
    GROUP BY c.source, c.n_docs
    """


@query("curation_ccnet_buckets", oracle=_ccnet_oracle())
def curation_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing PER DOMAIN (Wenzek et
    al. 2020): rank each source's documents by unigram surprisal
    (composed from the REGISTERED text_surprisal_score operator — the
    exact integer floor-log2 form) and split into terciles — head =
    most-common-word prose (kept wholesale in CCNet), tail = rare-
    token-heavy junk (dropped or down-sampled).  Emits per-source
    tercile occupancy; the cuts are exact cumulative-count thresholds
    (n DIV 3, 2n DIV 3), not interpolated percentiles.

    Determinism: docs order by the exact double ratio
    bits_total/n_tokens with (bits_total, n_tokens) as integer
    tie-breaks, so both engines walk the identical cumulative
    sequence; bucket populations are then exact integers.

    Scale shape: same histogram discipline as
    curation_quality_calibrate — doc-grain scorer agg, then a
    (source, bits, ntok) HISTOGRAM agg, cumulative window and bucket
    sums over HISTOGRAM rows only; no doc-grain window, so a giant
    domain cannot create a hot sort partition.
    """
    from pyspark.sql import Window

    from .registry import QUERIES

    d = table(spark, sf_dir, "documents")
    lg = (
        QUERIES["text_surprisal_score"](spark, sf_dir)
        .select("doc_id", "bits_total", "n_tokens")
        .join(d.select("doc_id", "source"), "doc_id")
    )
    hist = lg.groupBy("source", "bits_total", "n_tokens").agg(
        F.count("*").alias("cnt")
    )
    wcum = Window.partitionBy("source").orderBy(
        (F.col("bits_total").cast("double") / F.col("n_tokens")),
        "bits_total",
        "n_tokens",
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    cuts = (
        hist.groupBy("source")
        .agg(F.sum("cnt").cast("bigint").alias("n_docs"))
        .select(
            "source",
            "n_docs",
            F.expr("CAST((n_docs * 1) DIV 3 AS BIGINT)").alias("c1"),
            F.expr("CAST((n_docs * 2) DIV 3 AS BIGINT)").alias("c2"),
        )
        .filter(F.col("n_docs") >= 3)
    )
    return (
        cum.join(F.broadcast(cuts), "source")
        .groupBy("source", "n_docs")
        .agg(
            F.sum(F.when(F.col("cum") <= F.col("c1"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_head"),
            F.sum(
                F.when(
                    (F.col("cum") > F.col("c1"))
                    & (F.col("cum") <= F.col("c2")),
                    F.col("cnt"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_middle"),
            F.sum(F.when(F.col("cum") > F.col("c2"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_tail"),
        )
        .select("source", "n_docs", "n_head", "n_middle", "n_tail")
    )


@query(
    "curation_contamination_report",
    oracle=f"""
    WITH tokd AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), shingled AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(1, greatest(len(toks) - 7, 0) + 1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
               toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
               toks[i+6] || ' ' || toks[i+7])) AS sh
      FROM tokd
    ), train_sh AS (
      SELECT doc_id, unnest(sh) AS shingle FROM shingled
      WHERE doc_id % 13 <> 0
    ), eval_sh AS (
      SELECT doc_id, unnest(sh) AS shingle FROM shingled
      WHERE doc_id % 13 = 0
    )
    SELECT e.doc_id AS eval_doc_id,
      CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_contaminating_docs,
      CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs,
      CAST(COUNT(DISTINCT e.shingle) AS BIGINT) AS n_leaked_shingles
    FROM eval_sh e JOIN train_sh t ON e.shingle = t.shingle
    GROUP BY e.doc_id
    """,
)
def curation_contamination_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benchmark-contamination REPORT — the flip side of the
    decontaminate filter: for every eval-slice document (doc_id%13=0,
    the same held-out slice the export pipeline protects), how many
    TRAIN documents share at least one word 8-gram, how many
    (eval-shingle, train-doc) overlap pairs exist, and how many
    distinct eval shingles leaked.  This is the audit artifact a
    training run ships alongside its decontamination pass (GPT-3
    appendix-C practice): the filter DROPS contaminated training
    docs; the report quantifies what the eval set was exposed to.

    Scale shape: distinct per-doc shingle rows on both sides, one
    hash equi-join on the shingle (eval side is small → AQE
    broadcasts it), two-level count-distinct aggregate keyed by eval
    doc.  Identical candidate discipline to decontaminate/
    dedup_ngram_jaccard — never all-pairs.
    """
    from ..operators.dedup import shingle_rows

    d = table(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "text", 8)
    # r13: no .distinct() — shingle_rows explodes array_distinct'd
    # per-row shingle sets, so (doc, shingle) rows are ALREADY unique;
    # the two distincts were pure no-op Exchanges (guide §2.4: "a
    # distinct on data that is already unique").
    train_sh = sh.filter(F.col("doc_id") % 13 != 0).select(
        F.col("doc_id").alias("train_doc_id"), "shingle"
    )
    eval_sh = sh.filter(F.col("doc_id") % 13 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "shingle"
    )
    return (
        eval_sh.join(train_sh, "shingle")
        .groupBy("eval_doc_id")
        .agg(
            F.countDistinct("train_doc_id")
            .cast("bigint")
            .alias("n_contaminating_docs"),
            F.count("*").cast("bigint").alias("n_overlap_pairs"),
            F.countDistinct("shingle")
            .cast("bigint")
            .alias("n_leaked_shingles"),
        )
    )


@query(
    "curation_mixture_reweight",
    oracle=f"""
    WITH tok AS (
      SELECT d.source, len({_TOKENS_SQL}) AS n_toks
      FROM documents d
    ), dom AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS domain_tokens
      FROM tok GROUP BY source
    ), tot AS (
      SELECT COUNT(*) AS n_domains, SUM(domain_tokens) AS corpus_tokens
      FROM dom
    )
    SELECT d.source, d.n_docs, d.domain_tokens,
      CAST((t.corpus_tokens // 2) // t.n_domains AS BIGINT)
        AS target_tokens,
      CAST(LEAST(1000000,
        (((t.corpus_tokens // 2) // t.n_domains) * 1000000)
          // GREATEST(d.domain_tokens, 1)) AS BIGINT) AS rate_ppm,
      CAST((LEAST(1000000,
        (((t.corpus_tokens // 2) // t.n_domains) * 1000000)
          // GREATEST(d.domain_tokens, 1)) * d.domain_tokens) // 1000000
        AS BIGINT) AS expected_tokens
    FROM dom d CROSS JOIN tot t
    """,
)
def curation_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static domain-mixture reweighting (the DoReMi/Pile recipe in
    its deterministic form): given a token budget of HALF the corpus
    split UNIFORMLY across domains, compute each domain's sampling
    rate and expected token yield.  Oversized domains are down-sampled
    (rate < 1); undersized domains are capped at rate 1 (never
    up-sampled — repetition is a separate, explicit decision).  A
    ZERO-token domain (all-empty/NULL docs — the poison corpus has
    one) is maximally undersized: rate 1e6, expected yield 0; the
    unguarded integer division crashed the whole job under ANSI
    (POISON.md).

    All arithmetic is INTEGER: the per-domain target is
    (corpus_tokens DIV 2) DIV n_domains, the rate is parts-per-million
    (target*1e6 DIV domain_tokens, capped at 1e6), and expected yield
    is rate*domain_tokens DIV 1e6 — no float ratios anywhere, so both
    engines agree exactly and the numbers compose with the exact
    token-count contract of the export pipeline.

    Scale shape: one map-combined (source) aggregate over the
    documents scan + a 1-row totals broadcast; output is
    domain-cardinality.  Swapping uniform shares for trained DoReMi
    weights = replacing the DIV n_domains literal with a per-domain
    weight column joined in — the plan shape does not change.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", T.token_count("text").alias("n_toks"))
    dom = tok.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("domain_tokens"),
    )
    tot = F.broadcast(
        dom.agg(
            F.count("*").alias("n_domains"),
            F.sum("domain_tokens").alias("corpus_tokens"),
        )
    )
    j = dom.crossJoin(tot)
    target = F.expr(
        "CAST((corpus_tokens DIV 2) DIV n_domains AS BIGINT)"
    )
    rate = F.least(
        F.lit(1000000).cast("bigint"),
        F.expr(
            "CAST((((corpus_tokens DIV 2) DIV n_domains) * 1000000) "
            "DIV GREATEST(domain_tokens, CAST(1 AS BIGINT)) AS BIGINT)"
        ),
    )
    # expected = rate*domain_tokens DIV 1e6 in INTEGER arithmetic —
    # a float '/' here would convert to double and lose exactness past
    # 2^53 (domain_tokens ~9e9 at rate 1e6, i.e. the target scale),
    # diverging from the oracle's integer floor (code review r8).
    return j.select(
        "source",
        "n_docs",
        "domain_tokens",
        target.alias("target_tokens"),
        rate.alias("rate_ppm"),
        F.expr(
            "CAST((LEAST(CAST(1000000 AS BIGINT), "
            "CAST((((corpus_tokens DIV 2) DIV n_domains) * 1000000) "
            "DIV GREATEST(domain_tokens, CAST(1 AS BIGINT)) AS BIGINT)) "
            "* domain_tokens) DIV 1000000 AS BIGINT)"
        ).alias("expected_tokens"),
    )


def _rho_oracle() -> str:
    from .registry import ORACLES

    sp = ORACLES["text_surprisal_score"]
    qm = ORACLES["text_quality_model_score"]
    return f"""
    WITH sp AS ({sp}), qm AS ({qm})
    SELECT s.doc_id,
      CAST((s.bits_total * 1000) // s.n_tokens AS BIGINT)
        AS surprisal_milli,
      q.logit_centi,
      CAST((s.bits_total * 1000) // s.n_tokens + q.logit_centi * 10
           AS BIGINT) AS learnability_milli,
      ((s.bits_total * 1000) // s.n_tokens + q.logit_centi * 10
        >= 12500) AS selected
    FROM sp s JOIN qm q USING (doc_id)
    """


@query("curation_rho_select", oracle=_rho_oracle())
def curation_rho_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learnability-gap data selection (RHO-loss-style, Mindermann et
    al. ICML'22, in its frozen-proxy deployment form): prefer
    documents that are simultaneously NOVEL under a reference unigram
    LM (high per-token surprisal — not already-memorized boilerplate)
    and CLEAN under the quality classifier (high logit — not noise
    that merely LOOKS novel).  The selection score is a frozen integer
    blend of the two REGISTERED scorers,
    learnability = surprisal_milli + 10*logit_centi, with a fixed
    literal threshold — swapping in real trained holdout/training
    losses replaces the two input columns, not the plan.

    Exactness: both inputs are exact integers (floor-log2 bits,
    centi-unit logits), the blend and threshold are integer
    arithmetic — bit-identical on both engines, no float ranks.

    Scale shape: two doc-grain map-combined aggregates (each one
    explode + partial agg, the word-count shape) joined on doc_id —
    AQE picks broadcast vs shuffle; no window, no driver state.
    """
    from .registry import QUERIES

    sp = QUERIES["text_surprisal_score"](spark, sf_dir).select(
        "doc_id", "bits_total", "n_tokens"
    )
    qm = QUERIES["text_quality_model_score"](spark, sf_dir).select(
        "doc_id", "logit_centi"
    )
    j = sp.join(qm, "doc_id")
    surp = F.expr("CAST((bits_total * 1000) DIV n_tokens AS BIGINT)")
    learn = F.expr(
        "CAST((bits_total * 1000) DIV n_tokens + logit_centi * 10 "
        "AS BIGINT)"
    )
    return j.select(
        "doc_id",
        surp.alias("surprisal_milli"),
        "logit_centi",
        learn.alias("learnability_milli"),
        (learn >= 12500).alias("selected"),
    )


def _cluster_cap_oracle() -> str:
    from .similarity import _kmeans_cte

    return (
        _kmeans_cte()
        + """
    , sized AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM kassign GROUP BY cell
    ), kept AS (
      SELECT a.cell,
        CASE WHEN
          (CAST('0x' || substr(md5('s:' || CAST(a.id AS VARCHAR)), 1, 15)
             AS BIGINT) % 1000000) * s.cluster_size < 30 * 1000000
        THEN 1 ELSE 0 END AS keep
      FROM kassign a JOIN sized s USING (cell)
    )
    SELECT k.cell, s.cluster_size,
      CAST(30 AS BIGINT) AS quota,
      CAST(SUM(k.keep) AS BIGINT) AS n_kept
    FROM kept k JOIN sized s USING (cell)
    GROUP BY k.cell, s.cluster_size
    """
    )


@query("curation_cluster_balanced_sample", oracle=_cluster_cap_oracle())
def curation_cluster_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-balanced corpus sampling (the SemDeDup / DataComp
    recipe step after semantic clustering): train the deterministic
    fixed-point k-means (the REGISTERED ml_kmeans_assign operator,
    k=4), then sample each semantic cluster toward a UNIFORM quota
    (30 docs) regardless of cluster size — big boilerplate clusters
    are heavily down-sampled, small rare-topic clusters survive
    intact.  Per-doc keep decisions are hash-deterministic with rate
    quota/cluster_size (integer cross-multiplication, no floats):
    stable across re-runs and partitionings, never rand().

    Emits per-cluster (size, quota, kept) so the rebalancing is
    auditable; the kept count is binomial around the quota for large
    clusters and equals the size for clusters under quota (rate
    capped at 1 by the inequality itself).

    Scale shape: the k-means trainer broadcasts k centroids per
    iteration (corpus never shuffles for assignment); cluster sizes
    are a k-row aggregate joined back broadcast; the keep decision is
    a stateless integer expression — no per-cluster window, so a
    giant cluster cannot create a hot partition (the reason this is
    rate-based, not exact-top-C: exact top-C per cluster needs a
    k-partition doc-grain rank, the skew trap).
    """
    from ..operators.kmeans import kmeans_fit_assign
    from .similarity import _emb

    e = _emb(spark, sf_dir)
    assign = kmeans_fit_assign(e, "vec_id", "embedding", k=4, n_iter=2)
    sized = assign.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    keep = (
        (
            T.md5_hash64(F.concat(F.lit("s:"), F.col("id").cast("string")))
            % 1000000
        )
        * F.col("cluster_size")
        < F.lit(30) * F.lit(1000000)
    ).cast("int")
    kept = assign.join(F.broadcast(sized), "cell").select(
        "cell", "cluster_size", keep.alias("keep")
    )
    return kept.groupBy("cell", "cluster_size").agg(
        F.lit(30).cast("bigint").alias("quota"),
        F.sum("keep").cast("bigint").alias("n_kept"),
    )


# Curriculum difficulty-bucket width (tokens per bucket step).
_CURR_BUCKET_TOKENS = 16


@query(
    "curation_curriculum_order",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
        len(list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), t -> t <> ''))
          // {_CURR_BUCKET_TOKENS} AS bucket,
        md5(CAST(doc_id AS VARCHAR)) AS shuf
      FROM documents
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
      CAST(row_number() OVER (ORDER BY bucket, shuf, doc_id) AS BIGINT)
        AS ord
    FROM scored
    """,
)
def curation_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: a single global training ordinal that
    presents short (easy) documents before long (hard) ones, with a
    deterministic md5 shuffle INSIDE each difficulty bucket so no
    secondary signal (ingest order, doc_id locality) leaks into the
    schedule — the curriculum-learning export order.

    The interesting part at 100 TB is the global ordinal itself:
    ``row_number() OVER (ORDER BY ...)`` funnels the corpus through
    one task, so this query composes the two-phase global ranker
    (operators/relational.py global_rank: range-repartition + P-row
    offset broadcast) — every partition ranks in parallel and the
    per-partition offsets come from a P-row frame.  The order key
    (bucket, md5, doc_id) is unique, which is the ranker's
    determinism precondition.
    """
    from ..operators.relational import global_rank

    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        (T.token_count("text").cast("bigint") / _CURR_BUCKET_TOKENS)
        .cast("bigint")
        .alias("bucket"),
        F.md5(F.col("doc_id").cast("string")).alias("shuf"),
    )
    return (
        global_rank(scored, ["bucket", "shuf", "doc_id"])
        .select("doc_id", "bucket", F.col("rn").cast("bigint").alias("ord"))
    )


@query(
    "curation_corpus_summary",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(len(list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                               t -> t <> ''))) AS BIGINT) AS n_tokens,
      CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
      CAST((COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000 // COUNT(*)
        AS BIGINT) AS dup_ratio_ppm,
      CAST(SUM(len(list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                               t -> t <> ''))) // COUNT(*) AS BIGINT)
        AS mean_doc_tokens
    FROM documents
    """,
)
def curation_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one pass: corpus size (docs, tokens,
    chars), composition cardinalities (languages, sources), and the
    exact-duplicate ratio (1 − unique text hashes / docs, integer
    ppm) — the one-row summary a curation pipeline publishes next to
    every snapshot so downstream consumers can diff corpus health
    release-over-release (pairs with curation_snapshot_diff).

    Scale shape: ONE aggregate over the scan; the three distinct-aggs
    share a single Expand + two-level hash aggregate (the same shape
    as profile_lineitem), and text dedup counts md5 digests, never
    shuffling the texts themselves.
    """
    d = table(spark, sf_dir, "documents")
    ntok = F.sum(T.token_count("text").cast("bigint"))
    return d.agg(
        F.count("*").alias("n_docs"),
        ntok.alias("n_tokens"),
        F.sum(F.length("text").cast("bigint")).alias("n_chars"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct(F.md5("text")).alias("n_unique_texts"),
        F.expr(
            "CAST((COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("dup_ratio_ppm"),
        F.expr(
            "CAST(SUM(CAST(size(filter(split(text, '\\\\s+'), t -> t != ''))"
            " AS BIGINT)) DIV COUNT(*) AS BIGINT)"
        ).alias("mean_doc_tokens"),
    )


def _budget_oracle() -> str:
    from .registry import ORACLES

    return f"""
    WITH qm AS ({ORACLES["text_quality_model_score"]}),
    scored AS (
      SELECT d.doc_id,
        GREATEST(len(list_filter(string_split_regex(COALESCE(d.text, ''), '\\s+'),
                                 t -> t <> '')), 1) AS n_tok,
        CAST(floor(CAST(q.logit_centi * 1000000 AS DOUBLE)
                   / GREATEST(len(list_filter(
                       string_split_regex(COALESCE(d.text, ''), '\\s+'),
                       t -> t <> '')), 1)) AS BIGINT) AS ratio
      FROM documents d JOIN qm q ON d.doc_id = q.doc_id
    ), budget AS (
      SELECT SUM(n_tok) // 10 AS b FROM scored
    ), cum AS (
      SELECT doc_id, n_tok, ratio,
        SUM(n_tok) OVER (ORDER BY ratio DESC, doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      CAST(ratio AS BIGINT) AS ratio,
      CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum CROSS JOIN budget WHERE cum_tokens <= b
    """


@query("curation_token_budget_select", oracle=_budget_oracle())
def curation_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained selection: fill 10% of the corpus's
    token budget with the best quality-per-token documents (greedy
    knapsack by density — the optimal fractional-knapsack order) —
    how a pretraining run actually spends a fixed token budget, as
    opposed to a fixed document count.

    Determinism: the density key floor(logit·10⁶ / tokens) is one
    IEEE division + floor of exact integers (identical both engines —
    integer `//` semantics DIVERGE between the engines on negative
    logits, so the floor is taken explicitly); the greedy order is
    totally ordered by (density, doc_id).

    Scale shape: the running token total along the global greedy
    order uses the two-phase grouped cumulative sum
    (operators/relational.grouped_weighted_cumsum with a constant
    group — range-repartition + P-row offsets, NO single-partition
    window over the corpus); the budget is a 1-row broadcast.
    """
    from pyspark.sql.functions import broadcast

    from ..operators.relational import grouped_weighted_cumsum
    from .registry import QUERIES

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.greatest(T.token_count("text").cast("long"), F.lit(1)).alias(
            "n_tok"
        ),
    )
    q = QUERIES["text_quality_model_score"](spark, sf_dir).select(
        "doc_id", "logit_centi"
    )
    scored = d.join(q, "doc_id").select(
        "doc_id",
        "n_tok",
        F.floor(
            (F.col("logit_centi") * 1000000).cast("double") / F.col("n_tok")
        )
        .cast("bigint")
        .alias("ratio"),
    )
    budget = scored.agg(
        F.expr("SUM(n_tok) DIV 10").cast("bigint").alias("b")
    )
    cum = grouped_weighted_cumsum(
        scored.withColumn("_g", F.lit(1)),
        ["_g"],
        [F.col("ratio").desc(), F.col("doc_id").asc()],
        "n_tok",
        out_col="cum_tokens",
    )
    return (
        cum.crossJoin(broadcast(budget))
        .filter(F.col("cum_tokens") <= F.col("b"))
        .select(
            "doc_id",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            "ratio",
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        )
    )


_OVERLAP_K = 64  # bottom-k sketch size per source
_TOK_H = "CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)"


@query(
    "audit_source_overlap_kmv",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT source, unnest({_TOKENS_SQL}) AS token FROM documents
    ), sketch AS (
      SELECT source, token FROM (
        SELECT source, token, ROW_NUMBER() OVER (
          PARTITION BY source ORDER BY {_TOK_H}, token) AS rn
        FROM tok
      ) WHERE rn <= {_OVERLAP_K}
    ), sizes AS (
      SELECT source, COUNT(*) AS n FROM tok GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
      FROM tok a JOIN tok b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    ), pairs AS (
      SELECT sa.source AS src_a, sb.source AS src_b,
        sa.n AS n_a, sb.n AS n_b, COALESCE(i.n_inter, 0) AS n_inter
      FROM sizes sa JOIN sizes sb ON sa.source < sb.source
      LEFT JOIN inter i ON i.src_a = sa.source AND i.src_b = sb.source
    ), merged AS (
      SELECT p.src_a, p.src_b, s.token,
        MAX(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
        MAX(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sketch s ON s.source IN (p.src_a, p.src_b)
      GROUP BY 1, 2, 3
    ), bk AS (
      SELECT src_a, src_b, in_a, in_b FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY src_a, src_b ORDER BY {_TOK_H}, token) AS rn
        FROM merged
      ) WHERE rn <= {_OVERLAP_K}
    ), est AS (
      SELECT src_a, src_b, COUNT(*) AS kk,
        SUM(in_a * in_b) AS n_both
      FROM bk GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b,
      CAST(p.n_inter * 1000000 // (p.n_a + p.n_b - p.n_inter) AS BIGINT)
        AS jaccard_ppm,
      CAST(e.n_both * 1000000 // e.kk AS BIGINT) AS kmv_jaccard_ppm
    FROM pairs p JOIN est e ON p.src_a = e.src_a AND p.src_b = e.src_b
    ORDER BY p.src_a, p.src_b
    """,
)
def audit_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-overlap matrix — "how much does source A's
    vocabulary overlap source B's?" — the cross-source contamination /
    redundancy audit a mixture designer reads before weighting
    sources.  Every pair gets the exact token-set Jaccard AND the
    Broder bottom-k estimate from two per-source KMV sketches (k=64),
    so the gate value-checks both the answer and the sketch device.

    Scale shape: the sketches are the production path — ONE pass
    builds a k-row sketch per source (per-source window over the
    distinct token stream), and every pairwise estimate is computed
    from sketch rows alone (source-count² × k rows, trivially tiny).
    The exact side (token self-join) exists only to produce the
    gate's ground truth, same policy as agg_kmv_resemblance.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    from pyspark.sql import Window

    tok = d.select(
        "source", F.explode(F.array_distinct(T.tokens("text"))).alias("token")
    ).distinct()
    h = T.md5_hash64("token")
    wsrc = Window.partitionBy("source").orderBy(h.asc(), F.col("token").asc())
    sketch = (
        tok.withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") <= _OVERLAP_K)
        .select("source", "token")
    )
    sizes = tok.groupBy("source").agg(F.count("*").alias("n"))
    ta, tb = tok.alias("a"), tok.alias("b")
    inter = (
        ta.join(
            tb,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    pairs = (
        sa.join(sb, F.col("src_a") < F.col("src_b"))
        .join(inter, ["src_a", "src_b"], "left")
        .select(
            "src_a", "src_b", "n_a", "n_b",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
        )
    )
    # (pair, member-source) rows make the sketch probe an EQUI-join on
    # source (an OR predicate would plan a nested-loop join).
    pair_members = pairs.select(
        "src_a", "src_b", F.explode(F.array("src_a", "src_b")).alias("source")
    )
    merged = (
        sketch.join(F.broadcast(pair_members), "source")
        .groupBy("src_a", "src_b", "token")
        .agg(
            F.max((F.col("source") == F.col("src_a")).cast("int")).alias("in_a"),
            F.max((F.col("source") == F.col("src_b")).cast("int")).alias("in_b"),
        )
    )
    wpair = Window.partitionBy("src_a", "src_b").orderBy(
        T.md5_hash64("token").asc(), F.col("token").asc()
    )
    bk = merged.withColumn("rn", F.row_number().over(wpair)).filter(
        F.col("rn") <= _OVERLAP_K
    )
    est = bk.groupBy("src_a", "src_b").agg(
        F.count("*").alias("kk"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
    )
    return (
        pairs.join(est, ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            F.expr(
                "CAST(n_inter * 1000000 DIV (n_a + n_b - n_inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
            F.expr("CAST(n_both * 1000000 DIV kk AS BIGINT)").alias(
                "kmv_jaccard_ppm"
            ),
        )
        .orderBy("src_a", "src_b")
    )


_OOV_V = 256  # reference vocabulary size


@query(
    "curation_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
    ), cnt AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), vocab AS (
      SELECT token FROM (
        SELECT token, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rn
        FROM cnt
      ) WHERE rn <= {_OOV_V}
    )
    SELECT t.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_oov,
      CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1000000
           // COUNT(*) AS BIGINT) AS oov_ppm
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    """,
)
def curation_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV-rate audit: build the top-V corpus
    vocabulary (V=256, ties → token asc) and report each document's
    out-of-vocabulary token share in exact integer ppm — the signal
    that decides whether a tokenizer's vocab (or a fixed reference
    vocab) covers a candidate corpus, and which documents drag
    coverage down.

    Scale shape: the vocabulary is TakeOrdered-V from one map-combined
    token count (never a full sort) and BROADCASTS to the per-token
    membership probe; the per-doc rollup is one doc-keyed aggregate.
    At 100 TB the vocab is a fixed artifact and the probe is the same
    broadcast hash join.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    cnt = tok.groupBy("token").agg(F.count("*").alias("c"))
    vocab = (
        cnt.orderBy(F.desc("c"), "token")
        .limit(_OOV_V)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long"))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("CAST(n_oov * 1000000 DIV n_tokens AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
    )


@query(
    "curation_epoch_mix_schedule",
    oracle=f"""
    WITH tok AS (
      SELECT d.source, len({_TOKENS_SQL}) AS n_toks FROM documents d
    ), dom AS (
      SELECT source, CAST(SUM(n_toks) AS BIGINT) AS domain_tokens
      FROM tok GROUP BY source
    ), tot AS (
      SELECT SUM(domain_tokens) AS corpus_tokens,
        SUM(domain_tokens) // 4 AS budget
      FROM dom
    ), quota AS (
      SELECT source, domain_tokens,
        (budget * domain_tokens) // corpus_tokens AS floor_alloc,
        (budget * domain_tokens) % corpus_tokens AS remainder,
        budget, corpus_tokens
      FROM dom CROSS JOIN tot
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rk,
        budget - SUM(floor_alloc) OVER () AS n_extra
      FROM quota
    )
    SELECT source, domain_tokens,
      CAST(floor_alloc AS BIGINT) AS floor_alloc,
      CAST(remainder AS BIGINT) AS remainder,
      CAST(floor_alloc + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END
           AS BIGINT) AS epoch_tokens
    FROM ranked ORDER BY source
    """,
)
def curation_epoch_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch token allocation by LARGEST-REMAINDER apportionment
    (Hamilton's method): split a fixed epoch budget (¼ of corpus token
    mass) across sources proportionally to their token mass, in exact
    integers that sum EXACTLY to the budget — floor the proportional
    quota, then hand the leftover +1s to the largest remainders (ties
    → source asc).  This is how a mixture weight vector becomes an
    executable per-epoch sampling plan without fractional-token drift
    accumulating across epochs.

    Scale shape: one source-keyed token aggregate, a 1-row totals
    broadcast, and the remainder rank over the |sources|-row frame
    (constant-size at any corpus scale).
    """
    d = table(spark, sf_dir, "documents", spread=True)
    from pyspark.sql import Window

    dom = (
        d.select("source", T.token_count("text").cast("long").alias("n_toks"))
        .groupBy("source")
        .agg(F.sum("n_toks").cast("bigint").alias("domain_tokens"))
    )
    tot = dom.agg(F.sum("domain_tokens").alias("corpus_tokens")).select(
        "corpus_tokens", F.expr("corpus_tokens DIV 4").alias("budget")
    )
    quota = dom.crossJoin(F.broadcast(tot)).select(
        "source",
        "domain_tokens",
        F.expr("(budget * domain_tokens) DIV corpus_tokens").alias("floor_alloc"),
        F.expr("(budget * domain_tokens) % corpus_tokens").alias("remainder"),
        "budget",
    )
    w = Window.orderBy(F.desc("remainder"), "source")
    wall = Window.partitionBy()
    ranked = quota.select(
        "source",
        "domain_tokens",
        "floor_alloc",
        "remainder",
        F.row_number().over(w).alias("rk"),
        (F.col("budget") - F.sum("floor_alloc").over(wall)).alias("n_extra"),
    )
    return ranked.select(
        "source",
        "domain_tokens",
        F.col("floor_alloc").cast("bigint").alias("floor_alloc"),
        F.col("remainder").cast("bigint").alias("remainder"),
        (
            F.col("floor_alloc")
            + F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("epoch_tokens"),
    ).orderBy("source")


def _funnel_oracle() -> str:
    from .registry import ORACLES

    return f"""
    WITH q AS ({ORACLES["text_quality_filter"]}),
    kb AS ({ORACLES["curation_keep_best"]}),
    s1 AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
      FROM q WHERE passes_quality
    ), canon AS (
      SELECT MIN(d.doc_id) AS doc_id
      FROM documents d JOIN s1 ON d.doc_id = s1.doc_id
      GROUP BY md5(d.text)
    ), s2 AS (
      SELECT s1.* FROM s1 JOIN canon ON s1.doc_id = canon.doc_id
    ), s3 AS (
      SELECT s2.* FROM s2 JOIN kb ON s2.doc_id = kb.doc_id AND kb.keep
    ), s0 AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens FROM q
    ), stages AS (
      SELECT 0 AS stage_ord, 'ingest' AS stage,
        COUNT(*) AS n_docs, SUM(n_tokens) AS n_tokens FROM s0
      UNION ALL SELECT 1, 'quality', COUNT(*), SUM(n_tokens) FROM s1
      UNION ALL SELECT 2, 'exact_dedup', COUNT(*), SUM(n_tokens) FROM s2
      UNION ALL SELECT 3, 'near_dedup_keep_best', COUNT(*), SUM(n_tokens)
        FROM s3
    ), total AS (SELECT COUNT(*) AS n0 FROM documents)
    SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
      CAST(n_docs AS BIGINT) AS n_docs,
      CAST(n_tokens AS BIGINT) AS n_tokens,
      CAST(n_docs * 1000000 // n0 AS BIGINT) AS retained_docs_ppm
    FROM stages CROSS JOIN total ORDER BY stage_ord
    """


@query("curation_funnel_report", oracle=_funnel_oracle())
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation FUNNEL — doc and token survivor counts
    after each pipeline stage (ingest → quality gate → exact dedup →
    near-dup keep-best), with retained-docs ppm vs ingest: the one
    table every corpus run reports first, and the cross-stage
    consistency check over three REGISTERED operators (quality filter,
    md5 exact dedup, LSH keep-best) composed with the SAME semantics
    the individual gates verify.  Exact-dedup canonicals are chosen
    WITHIN quality survivors (pipeline order matters and is encoded);
    keep-best flags come from the corpus-wide cluster decision, the
    shape a production run persists once and reuses.

    Scale shape: each stage is a flag/join on doc-keyed frames; the
    stage rollup is four 1-row aggregates unioned (constant output).
    The LSH-components cost is the composed operator's own; a real run
    derives this report from the PERSISTED components/keep tables
    (operators/reporting.py) for free.
    """
    from .registry import QUERIES

    q = QUERIES["text_quality_filter"](spark, sf_dir).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "passes_quality",
    )
    kb = QUERIES["curation_keep_best"](spark, sf_dir).select("doc_id", "keep")
    d = table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    s1 = q.filter("passes_quality").select("doc_id", "n_tokens")
    canon = (
        d.join(s1.select("doc_id"), "doc_id")
        .groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    from ..operators.reporting import funnel_report

    return funnel_report(q, canon, kb, d)


@query(
    "curation_card_by_source",
    oracle=f"""
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens,
      CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
      CAST((COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000 // COUNT(*)
        AS BIGINT) AS dup_ratio_ppm,
      CAST(SUM(len({_TOKENS_SQL})) // COUNT(*) AS BIGINT)
        AS mean_doc_tokens,
      CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY source ORDER BY source
    """,
)
def curation_card_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card broken out PER SOURCE — sizes, language
    cardinality, exact-dup ppm, token means, char ranges — the
    per-provenance sheet a mixture designer reads next to the global
    card (curation_corpus_summary) and the overlap matrix
    (audit_source_overlap_kmv).  Text dedup counts md5 digests so the
    wide text column never moves.

    Scale shape: ONE source-keyed aggregate; the distinct-aggs share
    the Expand the global card already demonstrated, with source in
    every grouping key — still map-combined, still one shuffle of
    digest-sized rows.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    toks = T.token_count("text").cast("long")
    return (
        d.select(
            "source",
            "lang",
            "n_chars",
            toks.alias("n_toks"),
            F.length("text").alias("len_chars"),
            F.md5("text").alias("h"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.sum("len_chars").cast("bigint").alias("n_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.countDistinct("h").cast("bigint").alias("n_unique_texts"),
            F.min(F.col("n_chars")).cast("bigint").alias("_minc"),
            F.max(F.col("n_chars")).cast("bigint").alias("_maxc"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_langs",
            "n_unique_texts",
            F.expr(
                "CAST((n_docs - n_unique_texts) * 1000000 DIV n_docs AS BIGINT)"
            ).alias("dup_ratio_ppm"),
            F.expr("CAST(n_tokens DIV n_docs AS BIGINT)").alias(
                "mean_doc_tokens"
            ),
            F.col("_minc").alias("min_chars"),
            F.col("_maxc").alias("max_chars"),
        )
        .orderBy("source")
    )
