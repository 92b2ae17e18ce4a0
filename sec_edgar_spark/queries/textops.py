"""Text-analysis queries over the documents table (training-data ops).

All expressions are JVM-side builtins (functions/text.py) — language ID,
quality scoring, token counting and fingerprinting run without a single
Python UDF, so at 100 TB they are a pure map stage over the text scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..catalog import table
from ..functions import text as T
from .registry import query

# DuckDB fragments mirroring functions/text.py primitives (kept in one
# place so every text oracle stays consistent with the Spark side).
# COALESCE: NULL text tokenizes to the EMPTY list, matching the Spark
# side, where exploding split(NULL) yields no rows so every token-level
# aggregate coalesces to 0 — without it DuckDB propagates NULL through
# len()/list_filter() and every token stat diverges (POISON.md)
_TOKENS = (
    "list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),"
    " t -> t <> '')"
)
_HASH64 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
      CAST(len({_TOKENS}) AS INT) AS n_tokens,
      CAST(len(regexp_extract_all(COALESCE(text, ''), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT)
        AS n_bpe_tokens,
      CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INT) AS n_alpha,
      CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS INT) AS n_punct,
      CAST(length(text) AS INT) AS n_chars_measured
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and char-class stats."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.bpe_token_count("text").alias("n_bpe_tokens"),
        T.alpha_chars("text").alias("n_alpha"),
        T.punct_chars("text").alias("n_punct"),
        F.length("text").alias("n_chars_measured"),
    )


@query(
    "text_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source,
        len({_TOKENS}) AS n_tokens,
        CAST(length(regexp_replace(COALESCE(text, ''), '[^A-Za-z]', '', 'g'))
             AS DOUBLE)
          / greatest(length(COALESCE(text, '')), 1) AS alpha_ratio,
        CAST(len(list_filter({_TOKENS},
             t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], lower(t))))
             AS DOUBLE) / greatest(len({_TOKENS}), 1) AS stopword_ratio
      FROM documents
    )
    SELECT doc_id, lang, source, CAST(n_tokens AS INT) AS n_tokens,
           alpha_ratio, stopword_ratio,
           (n_tokens >= 10 AND alpha_ratio > 0.5) AS passes_quality
    FROM scored
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, alpha ratio, stopword ratio, and a
    pass/fail gate — the standard pretraining-corpus filter shape.

    Token-level stats come from ONE explode + conditional-sum aggregate
    (operators/text_analysis.token_aggregates — linear at scale);
    character-level stats stay doc-level codegen'd regex.  Ratios divide
    exact ints in double → bit-identical across engines.

    Measured note (sf0.1, noop sink): a zero-shuffle per-row variant
    using ``size(filter(_toks, isin))`` looks tempting but runs ~4×
    slower — higher-order lambdas evaluate interpreted per element,
    while the explode feeds a codegen'd IN-list conditional sum.  Keep
    the explode.  (And never A/B with ``count()`` — Catalyst prunes the
    very columns under test; use the noop sink.)
    """
    from ..operators.text_analysis import token_aggregates

    d = table(spark, sf_dir, "documents", spread=True)
    tok_agg = token_aggregates(d, "doc_id", "text", {"en": T.STOPWORDS["en"]})
    doc = d.select(
        "doc_id",
        "lang",
        "source",
        # NULL text scores as the empty document (ratios 0, gate
        # false), not as NULL ratios — POISON.md
        F.coalesce(T.alpha_chars("text"), F.lit(0)).alias("n_alpha"),
        F.coalesce(F.length("text"), F.lit(0)).alias("n_chars"),
    )
    j = doc.join(tok_agg, "doc_id", "left")
    n_tokens = F.coalesce("n_tokens", F.lit(0))
    alpha_ratio = F.col("n_alpha").cast("double") / F.greatest(
        F.col("n_chars"), F.lit(1)
    )
    stop_ratio = F.coalesce("hits_en", F.lit(0)).cast("double") / F.greatest(
        n_tokens, F.lit(1)
    )
    return j.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
        ((n_tokens >= 10) & (alpha_ratio > 0.5)).alias("passes_quality"),
    )


def _lang_oracle() -> str:
    langs = sorted(T.STOPWORDS)
    hits = ", ".join(
        "CAST(len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
        + f"], lower(x)))) AS INT) AS hits_{lang}"
        for lang in langs
    )
    mx = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    case = f"CASE WHEN {mx} = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lang} = {mx} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKENS} AS toks FROM documents
    ), h AS (
      SELECT doc_id, lang, {hits} FROM t
    )
    SELECT doc_id, lang, {case} AS lang_guess,
           {", ".join(f"hits_{lang}" for lang in langs)}
    FROM h
    """


@query(
    "text_lang_id",
    # argmax with sorted-lang tie order — the CASE chain reproduces the
    # Spark fold exactly (first lang in sorted order reaching the max).
    oracle=_lang_oracle(),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit argmax across 5 languages.

    One token explode computes all 5 hit counters (conditional sums);
    the argmax fold (sorted-lang tie order, all-zero → 'und') runs over
    the 5 small columns.
    """
    from ..operators.text_analysis import token_aggregates

    d = table(spark, sf_dir, "documents")
    langs = sorted(T.STOPWORDS)
    tok_agg = token_aggregates(d, "doc_id", "text")
    j = d.select("doc_id", "lang").join(tok_agg, "doc_id", "left")
    hits = {lang: F.coalesce(f"hits_{lang}", F.lit(0)) for lang in langs}
    best_lang, best_score = F.lit("und"), F.lit(0)
    for lang in reversed(langs):  # earlier langs win ties via strict '>'
        take = hits[lang] > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, hits[lang]).otherwise(best_score)
    return j.select(
        "doc_id",
        "lang",
        best_lang.alias("lang_guess"),
        *[hits[lang].cast("int").alias(f"hits_{lang}") for lang in langs],
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform({_TOKENS}, t -> {_HASH64.format(x='t')} % 2147483647)),
        (acc, h) -> (acc * 31 + h) % 2147483647) AS fingerprint
    FROM documents
    WHERE len({_TOKENS}) > 0
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (md5-based, so
    the oracle reproduces it exactly)."""
    from ..operators.text_analysis import rolling_fingerprints

    d = table(spark, sf_dir, "documents", spread=True)
    return rolling_fingerprints(d, "doc_id", "text")


@query(
    "text_heavy_hitters",
    oracle=f"""
    SELECT tok, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT 20
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: top-20 tokens by occurrence count
    (vocabulary head — the stoplist/boilerplate-detection primitive).
    Scale shape: explode → hash groupBy with map-side partials (the
    per-partition combine collapses the Zipf head before the shuffle,
    so shuffled bytes ≈ distinct tokens per partition, not token
    occurrences) → global top-k via TakeOrderedAndProject (no full
    sort).  Tie-broken on the token for determinism."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
    return (
        tok.groupBy("tok")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(20)
    )


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
        CAST(tf.tf AS DOUBLE) * (n.n_docs + 1) / (df.df + 1) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per document — the keyword-extraction /
    relevance primitive.  Rational idf ((N+1)/(df+1), no transcendental
    functions) keeps every float engine-exact for the oracle while
    preserving the ranking semantics of log-idf (monotone in df).

    Scale shape: one token explode → (doc, term) hash agg (map-side
    combined) → term df agg (small: vocabulary-sized) broadcast back →
    per-doc WindowGroupLimit for the top-5.  The corpus count joins as
    a broadcast scalar, never a driver-side collect.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs") + 1)
                / (F.col("df") + 1)
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
    )


# Winnowing constants (Schleimer et al., SIGMOD'03): token 3-gram
# hashes, window w=4 → fingerprint density ≤ 2/(w+1); any shared run of
# >= w + n - 1 = 6 tokens is GUARANTEED to share a fingerprint.
_WIN_N = 3   # tokens per gram
_WIN_W = 4   # grams per winnowing window
_WIN_DF_MAX = 50  # hot-fingerprint cap (boilerplate guard)


@query(
    "text_winnowing_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS ts FROM documents
    ), grams AS (
      SELECT doc_id,
        list_transform(
          range(1, len(ts) - {_WIN_N - 1} + 1),
          i -> {_HASH64.format(x=f"ts[i] || ' ' || ts[i+1] || ' ' || ts[i+{_WIN_N - 1}]")}
        ) AS h
      FROM toks WHERE len(ts) >= {_WIN_N}
    ), fps AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(1, len(h) - {_WIN_W - 1} + 1),
          i -> list_min(h[i : i + {_WIN_W - 1}])
        )) AS fp
      FROM grams WHERE len(h) >= {_WIN_W}
    ), posting AS (
      SELECT doc_id, unnest(fp) AS fp FROM fps
    ), rare AS (
      SELECT fp FROM posting GROUP BY fp
      HAVING COUNT(*) <= {_WIN_DF_MAX}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      COUNT(*) AS n_shared_fps
    FROM posting a
    JOIN rare USING (fp)
    JOIN posting b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def text_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint overlap pairs (Schleimer et al. 2003 — the
    MOSS local fingerprinting scheme): hash every token 3-gram, keep
    the MINIMUM hash of each sliding window of 4 gram hashes, dedup per
    document.  The guarantee the stride-window chunk detector
    (dedup_chunk_overlap) lacks: ANY shared token run of length >= 6 is
    detected regardless of alignment, while fingerprint density stays
    <= 2/(w+1) of the grams — position-robust AND sub-linear storage.

    Scale shape (r13, MAP-ONLY winnowing): each gram hashes ONCE into a
    per-row hash array (its OWN projection, referenced twice downstream
    — building it inside a nested lambda would re-evaluate the whole
    array per window after projection collapse, a measured O(n²) md5
    blowup), and the window-min is ``array_min(slice(h, i, w))`` per
    position — a per-row expression, because winnowing is per-document
    by definition.  The historical shape posexploded the gram stream
    and ran a doc-partitioned ordered window (one corpus-sized
    exchange + sort) plus a ``(doc, fp).distinct()`` exchange; both are
    gone — per-doc ``array_distinct`` IS that distinct.  Only winnowed
    survivors reach the df-capped posting join.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", T.tokens("text").alias("ts")).filter(
        F.size("ts") >= _WIN_N + _WIN_W - 1
    )
    n_grams = F.size("ts") - (_WIN_N - 1)
    gram_at = lambda i: F.md5(
        F.concat_ws(
            " ",
            *[F.element_at("ts", (i + k).cast("int")) for k in range(_WIN_N)],
        )
    )
    # 60-bit integer hash of each gram (md5 first 15 hex), matching
    # functions/text.md5_hash64 and the oracle's _HASH64
    h_at = lambda i: F.conv(F.substring(gram_at(i), 1, 15), 16, 10).cast(
        "bigint"
    )
    grams = toks.select(
        "doc_id",
        F.transform(F.sequence(F.lit(1), n_grams), lambda i: h_at(i)).alias(
            "_h"
        ),
    )
    fp_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_h") - (_WIN_W - 1)),
            lambda i: F.array_min(F.slice("_h", i, _WIN_W)),
        )
    )
    # NOT cached despite three consumers (r13, measured): caching the
    # posting frame doubled executor task-time at sf0.1 (16.2 s ->
    # 31.2 s; wall 1.43 s -> 2.08 s) — InMemoryRelation build +
    # columnar (de)serialization cost more than the replayed gram-hash
    # chain, whose twin subtrees overlap in wall anyway.
    posting = grams.select("doc_id", F.explode(fp_arr).alias("fp"))
    # NOTE: `rare` is the NON-hot side of the df cap — nearly all
    # distinct fingerprints, i.e. corpus-sized.  No broadcast hint
    # (AQE may still broadcast it at small SFs): forcing it would OOM
    # at scale, the same growing-dim mistake removed from
    # agg_market_basket in r6.  The join stays a keyed semi-join.
    rare = (
        posting.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _WIN_DF_MAX)
        .select("fp")
    )
    a = posting.join(rare, "fp")
    b = posting.select("fp", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_id") < F.col("doc_b"))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count("*").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= 2)
    )


# Sparse-cosine constants: vector space = terms with 2 <= df <= 50 (the
# df cap bounds posting-list fan-out, same rule as the ngram index).
_SC_DF_MIN, _SC_DF_MAX = 2, 50
_SC_THRESHOLD = 0.3


@query(
    "text_sparse_cosine_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), dfv AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      HAVING COUNT(*) BETWEEN {_SC_DF_MIN} AND {_SC_DF_MAX}
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    posting AS (
      SELECT tf.doc_id, tf.term, tf.tf,
        CAST(n.n_docs + 1 AS DOUBLE) / (dfv.df + 1) AS idf
      FROM tf JOIN dfv USING (term) CROSS JOIN n
    ), norms AS (
      SELECT doc_id,
        sqrt(list_reduce(
          list_prepend(CAST(0 AS DOUBLE), list_transform(
            list_sort(list(struct_pack(term := term,
                                       v := (tf * idf) * (tf * idf)))),
            s -> s.v)),
          (x, y) -> x + y)) AS nrm
      FROM posting GROUP BY doc_id
    ), dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        COUNT(*) AS n_shared_terms,
        list_reduce(
          list_prepend(CAST(0 AS DOUBLE), list_transform(
            list_sort(list(struct_pack(term := a.term,
                                       c := a.tf * b.tf * a.idf * a.idf))),
            s -> s.c)),
          (x, y) -> x + y) AS dot
      FROM posting a JOIN posting b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b, d.n_shared_terms,
      d.dot / (na.nrm * nb.nrm) AS cosine
    FROM dots d
    JOIN norms na ON d.doc_a = na.doc_id
    JOIN norms nb ON d.doc_b = nb.doc_id
    WHERE d.dot / (na.nrm * nb.nrm) >= {_SC_THRESHOLD}
    """,
)
def text_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity through an inverted index — the
    sparse complement of dense ``dedup_embedding_cosine``: document
    pairs score ONLY over shared vocabulary terms (posting-list
    equi-join on the term), so candidate volume is Σ_t df(t)² over the
    df-capped vocabulary, never |corpus|².  Rational idf
    ((N+1)/(df+1)) keeps floats engine-exact; the pair dot product and
    the norms fold their term contributions in SORTED term order
    (array_sort → left fold) so double summation is bit-identical in
    both engines despite Spark's nondeterministic aggregation order —
    the same determinism rule as the Arrow cosine scorer's dim-major
    loop.

    Scale shape: tf/df are map-combined hash aggs; df caps ([2, 50])
    bound every posting list, so the term self-join has ≤ C(50,2)
    pairs per term; norms join back as a doc-keyed dim.  Per-pair
    collected term lists are bounded by the smaller document's capped
    vocabulary.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfv = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df").between(_SC_DF_MIN, _SC_DF_MAX))
    )
    n = d.agg(F.count("*").alias("n_docs"))
    # cached: consumed three times (norms + both sides of the term
    # join) — without it each consumer replays the tf/df aggregations
    # (measured 19 shuffles -> 7)
    posting = (
        tf.join(F.broadcast(dfv), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            (
                (F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)
            ).alias("idf"),
        )
        .cache()
    )
    fold = lambda arr, field: F.aggregate(
        arr, F.lit(0.0), lambda acc, s: acc + s[field]
    )
    norms = (
        posting.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("term"),
                        (
                            (F.col("tf") * F.col("idf"))
                            * (F.col("tf") * F.col("idf"))
                        ).alias("v"),
                    )
                )
            ).alias("vs")
        )
        .select("doc_id", F.sqrt(fold(F.col("vs"), "v")).alias("nrm"))
    )
    a = posting.alias("a")
    b = posting.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count("*").alias("n_shared_terms"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("a.term"),
                        (
                            F.col("a.tf")
                            * F.col("b.tf")
                            * F.col("a.idf")
                            * F.col("a.idf")
                        ).alias("c"),
                    )
                )
            ).alias("cs"),
        )
        .select(
            "doc_a", "doc_b", "n_shared_terms",
            fold(F.col("cs"), "c").alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_terms",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= _SC_THRESHOLD)
    )


def _cms_oracle(depth: int = 4, width: int = 256) -> str:
    h = _HASH64.format(x="(j::VARCHAR || ':' || tok)")
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ), probes AS (
      SELECT tok, j, {h} % {width} AS bucket
      FROM tok CROSS JOIN (SELECT unnest(range({depth})) AS j)
    ), sketch AS (
      SELECT j, bucket, COUNT(*) AS cnt FROM probes GROUP BY j, bucket
    ), top20 AS (
      SELECT tok, COUNT(*) AS n_occurrences
      FROM tok GROUP BY tok
      ORDER BY n_occurrences DESC, tok LIMIT 20
    ), qprobes AS (
      SELECT t.tok, t.n_occurrences, {h.replace('tok', 't.tok')} % {width} AS bucket, j
      FROM top20 t CROSS JOIN (SELECT unnest(range({depth})) AS j)
    )
    SELECT q.tok, q.n_occurrences, MIN(s.cnt) AS cms_estimate
    FROM qprobes q JOIN sketch s ON q.j = s.j AND q.bucket = s.bucket
    GROUP BY q.tok, q.n_occurrences
    """


@query("text_countmin_estimates", oracle=_cms_oracle())
def text_countmin_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (D=4, W=256, md5 hash family) probed at the
    exact top-20 tokens: (token, exact count, sketch estimate).  The
    sketch is a pure function of the input given the fixed hash family,
    so the DuckDB oracle reproduces it — including collisions —
    bit-for-bit.  Scale story: the sketch build is a map-side-combined
    groupBy over D×W bounded cells; estimates broadcast-join the tiny
    sketch (operators/sketches.py)."""
    from ..operators.sketches import countmin_build, countmin_estimate

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
    sketch = countmin_build(tok, "tok", depth=4, width=256)
    top20 = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(20)
    )
    return countmin_estimate(sketch, top20, "tok", depth=4, width=256)


@query(
    "text_repetition_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS ts FROM documents
    ), uni AS (
      SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT t) AS n_distinct
      FROM (SELECT doc_id, unnest(ts) AS t FROM toks) GROUP BY doc_id
    ), bg AS (
      SELECT doc_id,
        unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS g
      FROM toks
    ), bgc AS (
      SELECT doc_id, g, COUNT(*) AS cnt FROM bg GROUP BY doc_id, g
    ), top AS (
      SELECT doc_id, g AS top_bigram, cnt AS top_cnt FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY cnt DESC, g) AS rk
        FROM bgc
      ) WHERE rk = 1
    ), dup AS (
      SELECT doc_id,
        COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0) AS dup_bigram_occ
      FROM bgc GROUP BY doc_id
    )
    SELECT u.doc_id, CAST(u.n_tok AS INT) AS n_tokens,
      1.0 - CAST(u.n_distinct AS DOUBLE) / u.n_tok AS dup_unigram_frac,
      t.top_bigram,
      CAST(t.top_cnt AS DOUBLE) / greatest(u.n_tok - 1, 1) AS top_bigram_frac,
      CAST(d.dup_bigram_occ AS DOUBLE) / greatest(u.n_tok - 1, 1) AS dup_bigram_frac,
      (1.0 - CAST(u.n_distinct AS DOUBLE) / u.n_tok) < 0.9
        AND CAST(t.top_cnt AS DOUBLE) / greatest(u.n_tok - 1, 1) < 0.18
        AS passes_repetition
    FROM uni u JOIN top t USING (doc_id) JOIN dup d USING (doc_id)
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (Rae et al. 2021 §A1.1): documents
    dominated by repeated tokens / a single repeated n-gram are
    boilerplate or degenerate generations, the standard pretraining
    exclusion after language ID + quality scoring.

    Metrics (token-based — this corpus has no newlines, so the line-dup
    variants are degenerate): duplicate-unigram fraction
    (1 − distinct/total), top-bigram occupancy (occurrences of the most
    frequent bigram over bigram slots, tie-broken lexicographically),
    and duplicated-bigram fraction (occurrences of bigrams seen more
    than once over slots).  All ratios are exact-int divisions in
    double, so both engines agree bit-for-bit.

    Scale shape: bigrams assemble per row with ``transform`` over the
    materialized token array (no shuffle, the shingle pattern of
    operators/dedup.py with n=2 and NO distinct — multiplicity is the
    signal), then one explode feeds two map-side-combined hash aggs
    (per-(doc,gram) count, per-doc rollup) and a WindowGroupLimit
    top-1; the unigram stats are one more explode + hash agg.  Every
    stage is linear in token count; nothing is quadratic and nothing
    collects.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    toks = d.select(
        "doc_id", T.tokens("text").alias("_toks")
    )
    bigram_arr = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_toks") - 2, F.lit(-1))),
        lambda i: F.concat_ws(
            " ",
            F.element_at("_toks", (i + 1).cast("int")),
            F.element_at("_toks", (i + 2).cast("int")),
        ),
    )
    bg = toks.filter(F.size("_toks") >= 2).select(
        "doc_id", F.explode(bigram_arr).alias("g")
    )
    bgc = bg.groupBy("doc_id", "g").agg(F.count("*").alias("cnt"))
    # top bigram + duplicated-bigram mass in ONE aggregation over bgc
    # (r13, guide §2.4): the argmax is min(struct(-cnt, g)) — smallest
    # negated count = highest count, ties to the lexicographically
    # smallest bigram, exactly the row_number()-over-(desc cnt, g)
    # winner this replaces — which turns the per-doc window sort plus
    # the separate dup rollup plus their join into one map-combined
    # hash agg.
    bgagg = bgc.groupBy("doc_id").agg(
        F.min(
            F.struct((-F.col("cnt")).alias("neg"), F.col("g").alias("g"))
        ).alias("m"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))), F.lit(0)
        ).alias("dup_bigram_occ"),
    ).select(
        "doc_id",
        F.col("m.g").alias("top_bigram"),
        (-F.col("m.neg")).alias("top_cnt"),
        "dup_bigram_occ",
    )
    # unigram stats are per-row identities of the token array (the
    # bm25 dl = size(tokens) move, r13): COUNT(*) over the explode is
    # size(ts), COUNT(DISTINCT t) is size(array_distinct(ts)) — the
    # second corpus explode + hash agg deleted outright.
    uni = toks.select(
        "doc_id",
        F.size("_toks").alias("n_tok"),
        F.size(F.array_distinct("_toks")).alias("n_distinct"),
    )
    slots = F.greatest(F.col("n_tok") - 1, F.lit(1))
    dup_uni = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tok")
    top_frac = F.col("top_cnt").cast("double") / slots
    return (
        uni.join(bgagg, "doc_id")
        .select(
            "doc_id",
            F.col("n_tok").cast("int").alias("n_tokens"),
            dup_uni.alias("dup_unigram_frac"),
            "top_bigram",
            top_frac.alias("top_bigram_frac"),
            (F.col("dup_bigram_occ").cast("double") / slots).alias(
                "dup_bigram_frac"
            ),
            ((dup_uni < 0.9) & (top_frac < 0.18)).alias("passes_repetition"),
        )
    )


@query(
    "text_redact_pii",
    oracle="""
    WITH built AS (
      SELECT c_custkey,
        c_mktsegment || ' contact: ' ||
        lower(replace(c_name, '#', '')) || '@example.com' ||
        ' phone ' || (10 + c_custkey % 90) || '-' ||
        lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
        lpad(CAST((c_nationkey * 37) % 1000 AS VARCHAR), 3, '0') || '-' ||
        lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0') || ' end' AS text
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT c_custkey,
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+', '<EMAIL>', 'g'),
        '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
      CAST(len(regexp_extract_all(COALESCE(text, ''),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+')) AS INT) AS n_emails,
      CAST(len(regexp_extract_all(COALESCE(text, ''),
        '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones
    FROM built
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace email addresses and phone numbers with
    type tokens and count what was removed — the scrubbing pass every
    training corpus gets before anything else sees it.  (The PII is
    synthesized from TPC-H customer keys — the testdata schema carries
    no real contact fields — so the gate exercises true match
    positions.)  The regexes
    stay inside the character-class subset that Java regex (Spark) and
    RE2 (DuckDB) evaluate identically — no backreferences, no
    lookaround — so the redacted text value-matches across engines.

    Pure per-row codegen'd regex over the scan: a stateless map stage
    at any scale, pushdown-friendly, zero shuffles.
    """
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
    phone_re = r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    text = F.concat(
        F.col("c_mktsegment"),
        F.lit(" contact: "),
        F.lower(F.regexp_replace("c_name", "#", "")),
        F.lit("@example.com phone "),
        (F.lit(10) + F.col("c_custkey") % 90).cast("string"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("c_nationkey") * 37) % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("c_custkey") * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" end"),
    )
    built = c.select("c_custkey", text.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace("text", email_re, "<EMAIL>"),
        phone_re,
        "<PHONE>",
    )
    return built.select(
        "c_custkey",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(email_re), 0)).cast("int").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(phone_re), 0)).cast("int").alias("n_phones"),
    )


@query(
    "text_surprisal_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ), cnt AS (
      SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
    ), ntot AS (
      SELECT COUNT(*) AS n FROM tok
    ), scored AS (
      SELECT t.doc_id,
        (length(bin(ntot.n)) - 1) - (length(bin(c.cnt)) - 1) AS s
      FROM tok t JOIN cnt c USING (tok) CROSS JOIN ntot
    )
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      CAST(SUM(s) AS BIGINT) AS bits_total,
      CAST(SUM(s) AS DOUBLE) / COUNT(*) AS avg_surprisal,
      CAST(SUM(s) AS DOUBLE) / COUNT(*) > 12.0 AS rare_heavy
    FROM scored GROUP BY doc_id
    """,
)
def text_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy (CCNet-style): score each document by
    the average corpus surprisal of its tokens — junk (random strings,
    boilerplate-free tails) is rare-token-heavy and scores high,
    natural prose of common words scores low.

    Engine-exact trick: true surprisal -log2(cnt/N) needs
    transcendentals whose partial-sum order is nondeterministic; the
    integer floor-log2 version  s = floor(log2 N) - floor(log2 cnt)
    = (length(bin(N))-1) - (length(bin(cnt))-1)  is EXACT integer math
    on both engines (bit-length, no floats), preserves the ranking
    semantics (monotone in cnt, within 1 bit of -log2(cnt/N)), and the
    per-doc mean is one double division of two exact integers — the
    same determinism rule as TF-IDF's rational idf.

    Scale shape: one token explode → vocab-sized count agg → join back
    on token (AQE broadcasts the vocab when it fits, shuffle-joins
    otherwise — never a driver collect) → per-doc hash agg.  The
    corpus total joins as a broadcast scalar.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
    cnt = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    ntot = tok.agg(F.count("*").alias("n"))
    bits = lambda c: F.length(F.bin(c)) - 1  # noqa: E731 — floor(log2), exact
    scored = (
        tok.join(cnt, "tok")
        .crossJoin(F.broadcast(ntot))
        .select("doc_id", (bits(F.col("n")) - bits(F.col("cnt"))).alias("s"))
    )
    avg = F.sum("s").cast("double") / F.count("*")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("s").alias("bits_total"),
        avg.alias("avg_surprisal"),
        (avg > 12.0).alias("rare_heavy"),
    )


@query(
    "text_bigram_surprisal",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKENS} AS a FROM documents
    ), bg AS (
      SELECT doc_id,
        unnest(list_slice(a, 1, len(a) - 1)) AS w1,
        unnest(list_slice(a, 2, len(a))) AS w2
      FROM t WHERE len(a) >= 2
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1
    ), voc AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest({_TOKENS}) AS tok FROM documents)
    ), sc AS (
      SELECT bg.doc_id,
        (length(bin(ctx.c1 + voc.v)) - 1)
          - (length(bin(bc.c12 + 1)) - 1) AS s
      FROM bg
      JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
      JOIN ctx ON bg.w1 = ctx.w1
      CROSS JOIN voc
    )
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(SUM(s) AS BIGINT) AS bits_total,
      CAST(SUM(s) AS DOUBLE) / COUNT(*) AS avg_cond_surprisal
    FROM sc GROUP BY doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (the KenLM/CCNet signal one order up
    from text_surprisal_score): each document is scored by the mean
    CONDITIONAL surprisal -log2 p(w2|w1) of its adjacent token pairs
    under an add-1-smoothed bigram model trained on the corpus itself,
    p(w2|w1) = (c12 + 1) / (c1 + V).  Context-aware, so it separates
    plausible-word-salad (good unigrams, incoherent order — scores
    high) from prose (low), which the unigram scorer cannot.

    Engine-exact: the same integer floor-log2 device as the unigram
    query — s = bits(c1 + V) - bits(c12 + 1) with bits(x) =
    length(bin(x)) - 1 is exact integer math on both engines (within
    1 bit of the true -log2 and monotone in the probability), and the
    per-doc mean is one double division of two exact integers.  Add-1
    keeps every count strictly positive so bin() never sees 0.

    Scale shape: bigrams assemble per row (two slices + zip_with, zero
    shuffle) and explode; the model is ONE (w1,w2) hash agg — the
    bigram type count, sublinear in corpus size — with context counts
    c1 derived from it by a second vocab-sized agg (no separate
    unigram pass over the corpus); scoring joins back on the bigram
    key (AQE broadcasts the model sides when they fit) and reduces
    per-doc.  Exactly the surprisal query's join class, one key wider.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens("text").alias("a"))
    n = F.size("a")
    bg = (
        toks.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("a", 1, n - 1),
                    F.slice("a", 2, n - 1),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    voc = d.select(F.explode(T.tokens("text")).alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    bits = lambda c: F.length(F.bin(c)) - 1  # noqa: E731 — floor(log2), exact
    scored = (
        bg.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(voc))
        .select(
            "doc_id",
            (bits(F.col("c1") + F.col("v")) - bits(F.col("c12") + 1)).alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("s").alias("bits_total"),
        (F.sum("s").cast("double") / F.count("*")).alias("avg_cond_surprisal"),
    )


_BM25_TERMS = ("spark", "vector", "customer")
# k1=1.2, b=0.75 written as literal factors so both engines compile the
# identical float-op chain: (tf*2.2) / (tf + 1.2*(0.25 + 0.75*((dl*N)/TT)))


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    score = (
        "(CAST(tf AS DOUBLE) * 2.2) / "
        "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * "
        "(CAST(dl * n_docs AS DOUBLE) / tt))) * "
        "(CAST(n_docs + 1 AS DOUBLE) / (df + 1))"
    )
    parts = " + ".join(
        f"COALESCE(MAX(CASE WHEN term = '{t}' THEN s END), 0.0)"
        for t in _BM25_TERMS
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ), scal AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(COUNT(*) AS DOUBLE) FROM tok) AS tt
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term IN ({terms}) GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term, {score} AS s
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN scal
    ), agg AS (
      SELECT doc_id, {parts} AS bm25 FROM scored GROUP BY doc_id
    )
    SELECT doc_id, bm25, rk FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
      FROM agg
    ) WHERE rk <= 20
    """


@query("text_bm25_search", oracle=_bm25_oracle())
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed query-term
    set — the full-text relevance primitive.  idf uses the same
    rational surrogate as TF-IDF ((N+1)/(df+1), monotone in df, no
    transcendentals); length normalization writes dl/avgdl as
    (dl·N)/TT so the only float ops are a fixed chain of single IEEE
    mul/div/add that both engines evaluate identically, and the 3-term
    sum is a FIXED-ORDER coalesce chain (never an order-dependent
    float aggregate).

    Scale shape: the term filter drops the exploded stream to query-
    term postings before any shuffle; df is a 3-row broadcast; doc
    lengths are a per-doc hash agg joined on doc_id; top-20 is
    TakeOrderedAndProject with the (score, doc_id) total order.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    # One tokenize pass, ZERO corpus-wide token explodes (r13, guide
    # §2.3/§2.4).  The previous shape exploded every token of every
    # document into rows and consumed that stream THREE times (doc
    # lengths, the total-token scalar, the term filter) — three full
    # tokenize+Generate passes, ~24 s of executor task-time at sf0.1
    # for three numbers per document.  Identical values from array
    # ops on the token array built once per row:
    #   dl  = size(tokens)            (== the exploded per-doc count)
    #   tt  = Σ dl                    (== the exploded stream's count)
    #   tf_t = size(filter(toks, = t))(== explode→filter→count per doc)
    # The dl join disappears entirely — dl rides on the same row as
    # the term counts.  The term unpivot is a 3-way stack over
    # already-computed ints; rows with tf = 0 are dropped exactly as
    # the inner explode→groupBy produced only tf >= 1 rows.
    toked = d.select("doc_id", T.tokens("text").alias("_toks"))

    def _count_of(term: str):
        # closure factory, NOT a default-arg lambda: F.filter treats a
        # second lambda parameter as the element index
        return F.size(F.filter("_toks", lambda x: x == F.lit(term)))

    per_doc = toked.select(
        "doc_id",
        F.size("_toks").alias("dl"),
        *[
            _count_of(t).cast("bigint").alias(f"_tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    # both corpus scalars ride one broadcast 1-row frame — no driver
    # action at plan-build time; ONE aggregate serves both (n_docs
    # counts every document row, tt sums dl over every row — the same
    # totals the two separate aggregates computed)
    scal = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("double").alias("tt"),
    )
    stack_args = ", ".join(
        f"'{t}', _tf{i}" for i, t in enumerate(_BM25_TERMS)
    )
    tf = per_doc.select(
        "doc_id",
        "dl",
        F.expr(f"stack({len(_BM25_TERMS)}, {stack_args}) AS (term, tf)"),
    ).filter(F.col("tf") > 0)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    tfd = F.col("tf").cast("double")
    score = (
        (tfd * 2.2)
        / (
            tfd
            + 1.2
            * (
                0.25
                + 0.75
                * ((F.col("dl") * F.col("n_docs")).cast("double") / F.col("tt"))
            )
        )
        * ((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(scal))
        .select("doc_id", "term", score.alias("s"))
    )
    parts = None
    for t in _BM25_TERMS:
        c = F.coalesce(F.max(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0))
        parts = c if parts is None else parts + c
    agg = scored.groupBy("doc_id").agg(parts.alias("bm25"))
    return (
        agg.orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("bm25"), "doc_id")
            ).cast("bigint"),
        )
    )


@query(
    "text_bigram_pmi",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKENS} AS a FROM documents
    ), tok AS (
      SELECT unnest(a) AS tok FROM t
    ), uni AS (
      SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
    ), ntot AS (
      SELECT COUNT(*) AS n FROM tok
    ), big AS (
      SELECT unnest(list_slice(a, 1, len(a) - 1)) AS w1,
             unnest(list_slice(a, 2, len(a))) AS w2
      FROM t WHERE len(a) >= 2
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS n_pair FROM big GROUP BY w1, w2
      HAVING COUNT(*) >= 5
    )
    SELECT bc.w1 || ' ' || bc.w2 AS bigram,
      bc.n_pair, u1.c AS c_w1, u2.c AS c_w2,
      CAST(bc.n_pair * ntot.n AS DOUBLE) / (u1.c * u2.c) AS lift
    FROM bc JOIN uni u1 ON bc.w1 = u1.tok
            JOIN uni u2 ON bc.w2 = u2.tok
            CROSS JOIN ntot
    ORDER BY lift DESC, bigram LIMIT 100
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-100 adjacent token pairs by PMI-style
    lift — observed bigram count over its expectation under unigram
    independence, lift = n_pair * N / (c_w1 * c_w2).  The standard
    first step of phrase/compound-term induction over a pretraining
    corpus (word2vec-style phrase merging).

    Engine-exact: the score is ONE double division of two exact int64
    products (n_pair*N ≤ ~2e17 at SF100, c_w1*c_w2 ≤ ~1e16 — both in
    range), the same determinism rule as TF-IDF's rational idf; no
    transcendental log whose partial sums could differ between
    engines.  The min-count-5 support filter and the (lift, bigram)
    total order make the top-100 set unique.

    Scale shape: bigrams assemble per row (two slices + zip_with, zero
    shuffle) and explode into ONE (w1,w2) hash agg; the support filter
    prunes the pair space before the two vocab joins (AQE broadcasts
    the unigram side when it fits); top-100 is a TakeOrdered, never a
    global sort materialization.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", T.tokens("text").alias("a"))
    tok = toks.select(F.explode("a").alias("tok"))
    uni = tok.groupBy("tok").agg(F.count("*").alias("c"))
    ntot = tok.agg(F.count("*").alias("n"))
    n = F.size("a")
    big = (
        toks.filter(n >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("a", 1, n - 1),
                    F.slice("a", 2, n - 1),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bc = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 5)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_w2"))
    lift = (F.col("n_pair") * F.col("n")).cast("double") / (
        F.col("c_w1") * F.col("c_w2")
    )
    return (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(ntot))
        .select(
            F.concat("w1", F.lit(" "), "w2").alias("bigram"),
            "n_pair",
            "c_w1",
            "c_w2",
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), "bigram")
        .limit(100)
    )


@query(
    "text_vocab_growth",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ), maxid AS (
      SELECT MAX(doc_id) AS maxid FROM documents
    ), occ AS (
      SELECT (t.doc_id * 10) // (maxid + 1) + 1 AS bucket
      FROM t CROSS JOIN maxid
    ), firsts AS (
      SELECT tok, MIN(doc_id) AS first_doc FROM t GROUP BY tok
    ), nv AS (
      SELECT (first_doc * 10) // (maxid + 1) + 1 AS bucket,
             COUNT(*) AS new_vocab
      FROM firsts CROSS JOIN maxid GROUP BY 1
    ), nt AS (
      SELECT bucket, COUNT(*) AS n_tokens FROM occ GROUP BY bucket
    ), spine AS (
      SELECT unnest(generate_series(1, 10)) AS bucket
    ), joined AS (
      SELECT s.bucket,
        COALESCE(nt.n_tokens, 0) AS n_tokens,
        COALESCE(nv.new_vocab, 0) AS new_vocab
      FROM spine s LEFT JOIN nt USING (bucket) LEFT JOIN nv USING (bucket)
    )
    SELECT CAST(bucket AS INT) AS bucket, n_tokens, new_vocab,
      CAST(SUM(n_tokens) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        AS BIGINT) AS cum_tokens,
      CAST(SUM(new_vocab) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        AS BIGINT) AS cum_vocab,
      CAST(SUM(new_vocab) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
           AS DOUBLE)
        / SUM(n_tokens) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        AS type_token_ratio
    FROM joined
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: split the corpus into 10
    equal doc-id slices and report, per cumulative prefix, total token
    volume, newly-seen vocabulary (tokens whose FIRST occurrence falls
    in the slice) and the running type/token ratio.  The standard
    diagnostic for corpus diversity / dedup effectiveness — a
    boilerplate-heavy crawl flattens the curve early.

    Engine-exact: bucket assignment is pure integer math
    ((id*10) div (maxid+1) + 1 — Spark ``div`` == DuckDB ``//``), the
    ratio is one double division of exact int64 running sums.

    Scale shape: one token explode feeding TWO hash aggs — per-bucket
    occurrence counts, and a vocab-sized min(doc_id) agg (map-side
    partial mins make this a combiner-friendly shuffle) — then all
    window work happens on a 10-row spine.  Nothing downstream of the
    aggs scales with the corpus.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
    maxid = d.agg(F.max("doc_id").alias("maxid"))

    def bucket(col: str):
        return F.expr(f"({col} * 10) div (maxid + 1) + 1").alias("bucket")

    nt = (
        tok.crossJoin(F.broadcast(maxid))
        .select(bucket("doc_id"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_tokens"))
    )
    nv = (
        tok.groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
        .crossJoin(F.broadcast(maxid))
        .select(bucket("first_doc"))
        .groupBy("bucket")
        .agg(F.count("*").alias("new_vocab"))
    )
    spine = spark.range(1, 11).select(F.col("id").alias("bucket"))
    joined = (
        spine.join(nt, "bucket", "left")
        .join(nv, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("new_vocab", F.lit(0)).alias("new_vocab"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum_t = F.sum("n_tokens").over(w)
    cum_v = F.sum("new_vocab").over(w)
    return joined.select(
        F.col("bucket").cast("int").alias("bucket"),
        "n_tokens",
        "new_vocab",
        cum_t.alias("cum_tokens"),
        cum_v.alias("cum_vocab"),
        (cum_v.cast("double") / cum_t).alias("type_token_ratio"),
    )


_SHINGLE8 = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 7, 0) + 1), i -> "
    + " || ' ' || ".join(f"toks[i+{k}]" for k in range(8))
    + "))"
)


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH tokd AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, unnest({_SHINGLE8}) AS sh
      FROM tokd WHERE len(toks) >= 8
    ), nsh AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
    ), nno AS (
      SELECT first_doc AS doc_id, COUNT(*) AS n_novel
      FROM (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
      GROUP BY first_doc
    )
    SELECT nsh.doc_id, nsh.n_shingles,
      COALESCE(nno.n_novel, 0) AS n_novel,
      CAST(COALESCE(nno.n_novel, 0) AS DOUBLE) / nsh.n_shingles AS novelty
    FROM nsh LEFT JOIN nno USING (doc_id)
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct 8-gram shingles whose FIRST corpus occurrence (by doc_id
    order) is this document — the doc-granularity memorization /
    freshness signal (a near-copy of earlier material scores ~0, novel
    text ~1).  The deduplicating-training-data diagnostic at document
    grain, complementing the corpus-level vocab-growth curve.

    Engine-exact: novelty is one double division of two exact longs;
    "first occurrence" is an integer min over doc_id — no floats
    anywhere upstream.

    Scale shape (r13): the per-doc distinct-shingle count is the SIZE
    of the per-row shingle array — computed map-only in the scan stage
    (``size(shingles)``), not by re-exploding the corpus into a second
    aggregate; only the shingle-keyed min(doc_id) still consumes the
    exploded stream (it is inherently cross-document), and its output
    re-aggregates BY first_doc into per-doc novel counts.  One corpus
    8-gram explode instead of two; the final join is between two
    doc-cardinality frames; the shingle stream itself is never joined
    back (the original formulation did, and that corpus-sized
    string-keyed join-back was ~35% of its wall time).
    """
    d = table(spark, sf_dir, "documents", spread=True)
    # Materialize the token split in its own projection and reference
    # it twice (r14, guide §1.2 per-task work): T.shingles("text", 8)
    # inlined the split into the transform lambda, and interpreted
    # higher-order lambdas re-evaluate the inlined split PER SHINGLE
    # POSITION — the recompute trap documented at
    # operators/dedup.shingle_rows and SCALE.md.  The double reference
    # (filter + lambda) keeps CollapseProject from re-inlining it.
    tokd = d.select("doc_id", T.tokens("text").alias("_toks")).filter(
        F.size("_toks") >= 8
    )
    # .cache(): the explode branch (novel-shingle min) and the size
    # branch (per-doc shingle count) both consume this frame, and
    # without the cache each re-runs the full shingle assembly — the
    # same duplicated-recompute shape the dedup family's
    # fused_doc_frame cache removes (r13).  Measured 6.1s → 1.7s warm
    # at 8 cores, sf0.1.  Lifetime: per-bench-sample (the bench clears
    # the cache between samples); MEMORY_AND_DISK spills gracefully at
    # scale, same trade as fused_doc_frame.
    keyed = tokd.select(
        "doc_id", T.shingles_from_tokens(F.col("_toks"), 8).alias("_sh8")
    ).cache()
    sh = keyed.select("doc_id", F.explode("_sh8").alias("sh"))
    nsh = keyed.select(
        "doc_id", F.size("_sh8").cast("bigint").alias("n_shingles")
    )
    nno = (
        sh.groupBy("sh")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_novel"))
    )
    n_novel = F.coalesce("n_novel", F.lit(0))
    return nsh.join(nno, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n_novel.alias("n_novel"),
        (n_novel.cast("double") / F.col("n_shingles")).alias("novelty"),
    )


_PHRASE_ITERS = 3


def _phrase_merge_oracle() -> str:
    toklen = "len(list_filter(string_split(trim({s}), ' '), x -> x <> ''))"
    parts = [
        f"d0 AS (SELECT doc_id, ' ' || array_to_string({_TOKENS}, ' ') || ' ' AS s FROM documents)"
    ]
    stats = []
    for i in range(1, _PHRASE_ITERS + 1):
        prev = f"d{i - 1}"
        parts.append(
            f"""t{i} AS (
              SELECT list_filter(string_split(trim(s), ' '), x -> x <> '') AS a
              FROM {prev})"""
        )
        parts.append(
            f"""c{i} AS (
              SELECT w1, w2, COUNT(*) AS c FROM (
                SELECT unnest(list_slice(a, 1, len(a) - 1)) AS w1,
                       unnest(list_slice(a, 2, len(a))) AS w2
                FROM t{i} WHERE len(a) >= 2)
              GROUP BY w1, w2)"""
        )
        parts.append(
            f"top{i} AS (SELECT w1, w2, c FROM c{i} ORDER BY c DESC, w1, w2 LIMIT 1)"
        )
        parts.append(
            f"""d{i} AS (
              SELECT doc_id,
                replace(s, ' ' || w1 || ' ' || w2 || ' ',
                           ' ' || w1 || '_' || w2 || ' ') AS s
              FROM {prev} CROSS JOIN top{i})"""
        )
        stats.append(
            f"""SELECT {i} AS iteration, w1, w2, CAST(c AS BIGINT) AS pair_count,
              CAST((SELECT SUM({toklen.format(s='s')}) FROM {prev})
                 - (SELECT SUM({toklen.format(s='s')}) FROM d{i}) AS BIGINT)
                AS n_merged
            FROM top{i}"""
        )
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(stats)


@query("text_phrase_merge", oracle=_phrase_merge_oracle())
def text_phrase_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative phrase induction (word2phrase / word-level-BPE shape):
    3 data-dependent rounds of "count adjacent pairs → pick the most
    frequent (count desc, w1, w2 tie-break) → merge its occurrences
    corpus-wide into a single token", reporting per round the learned
    pair, its pre-merge count, and the merges actually performed.
    THE canonical iterative-training loop a tokenizer pipeline runs —
    each round's statistics depend on the previous round's rewrite.

    Engine-exact merge trick: docs render once as space-padded strings
    and each round's rewrite is ONE literal ``replace(' w1 w2 ', '
    w1_w2 ')`` — Spark's and DuckDB's replace share left-to-right
    non-overlapping scan semantics EXACTLY, including the quirk that
    consecutive occurrences share a delimiter space so ``x y x y``
    merges once (verified both engines char-identical on the overlap
    cases) — which is why ``n_merged`` can differ from ``pair_count``
    and is reported separately.  Both engines replay the identical
    3-round trajectory; every number is an exact integer.

    Scale shape: each round is a bigram hash agg + a 1-row broadcast
    (the learned pair) + a codegen'd map over the corpus — the same
    shapes as text_bigram_pmi, run ``k`` times.  Lineage grows
    linearly with rounds; a production run persists/checkpoints the
    rewritten corpus between rounds instead of recomputing the chain
    (documented, not needed at gate scale).
    """
    d = table(spark, sf_dir, "documents", spread=True)
    # r13 measured note: caching each round's string corpus here was
    # tried (the persist-between-rounds production shape) and REVERTED
    # — at gate scale the bigram aggregate dominates each round and
    # re-running the cheap replace chain is FASTER than paying cache
    # materialization + storage of the wide string column (interleaved
    # min-of-2 A/B at sf0.1: 3.68 s / 37.6 s task-time uncached vs
    # 4.13 s / 60.7 s cached).  The docstring's persist-per-round
    # advice stands for 100 TB where lineage depth, not cache
    # bandwidth, is the binding constraint.
    cur = d.select(
        "doc_id",
        F.concat(
            F.lit(" "), F.array_join(T.tokens("text"), " "), F.lit(" ")
        ).alias("s"),
    )

    def toks_of(c):
        return F.filter(F.split(F.trim(c), " "), lambda x: x != "")

    stats = []
    for i in range(1, _PHRASE_ITERS + 1):
        a = toks_of(F.col("s"))
        n = F.size(a)
        pairs = (
            cur.select(a.alias("a"))
            .filter(F.size("a") >= 2)
            .select(
                F.explode(
                    F.zip_with(
                        F.slice("a", 1, F.size("a") - 1),
                        F.slice("a", 2, F.size("a") - 1),
                        lambda x, y: F.struct(
                            x.alias("w1"), y.alias("w2")
                        ),
                    )
                ).alias("p")
            )
            .groupBy("p.w1", "p.w2")
            .agg(F.count("*").alias("c"))
        )
        top = pairs.orderBy(F.desc("c"), "w1", "w2").limit(1)
        nb = cur.agg(F.sum(n).alias("nb"))
        nxt = cur.crossJoin(F.broadcast(top)).select(
            "doc_id",
            F.replace(
                "s",
                F.concat(F.lit(" "), "w1", F.lit(" "), "w2", F.lit(" ")),
                F.concat(F.lit(" "), "w1", F.lit("_"), "w2", F.lit(" ")),
            ).alias("s"),
        )
        na = nxt.agg(F.sum(F.size(toks_of(F.col("s")))).alias("na"))
        stats.append(
            top.crossJoin(F.broadcast(nb))
            .crossJoin(F.broadcast(na))
            .select(
                F.lit(i).alias("iteration"),
                "w1",
                "w2",
                F.col("c").cast("bigint").alias("pair_count"),
                (F.col("nb") - F.col("na")).cast("bigint").alias("n_merged"),
            )
        )
        cur = nxt

    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def _cms_merge_oracle(depth: int = 4, width: int = 256) -> str:
    h = _HASH64.format(x="(j::VARCHAR || ':' || tok)")

    def sketch(name: str, where: str) -> str:
        return f"""{name} AS (
          SELECT j AS row, {h} % {width} AS bucket, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents {where})
          CROSS JOIN (SELECT unnest(range({depth})) AS j)
          GROUP BY 1, 2
        )"""

    def est(name: str, src: str) -> str:
        return f"""{name} AS (
          SELECT t.tok, MIN(s.cnt) AS e
          FROM (SELECT tok, {h} % {width} AS bucket, j
                FROM top10 CROSS JOIN (SELECT unnest(range({depth})) AS j)) t
          JOIN {src} s ON t.j = s.row AND t.bucket = s.bucket
          GROUP BY t.tok
        )"""

    return f"""
    WITH {sketch('direct_s', '')},
    {sketch('sa', 'WHERE doc_id % 2 = 0')},
    {sketch('sb', 'WHERE doc_id % 2 = 1')},
    merged_s AS (
      SELECT row, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb)
      GROUP BY 1, 2
    ), top10 AS (
      SELECT tok, COUNT(*) AS n_occurrences
      FROM (SELECT unnest({_TOKENS}) AS tok FROM documents)
      GROUP BY tok ORDER BY n_occurrences DESC, tok LIMIT 10
    ),
    {est('ed', 'direct_s')},
    {est('em', 'merged_s')}
    SELECT t.tok, t.n_occurrences,
      ed.e AS cms_direct, em.e AS cms_merged,
      ed.e = em.e AS merge_exact
    FROM top10 t JOIN ed USING (tok) JOIN em USING (tok)
    """


@query("text_countmin_merge", oracle=_cms_merge_oracle())
def text_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min merge-equivalence proof — the OTHER sketch merge
    algebra: where HLL registers merge by MIN (agg_hll_merge), CMS
    cells merge by SUM.  Sketches built over the even-doc and odd-doc
    halves, cell-summed, must estimate every probe token identically
    to the one-pass sketch — counts are exact integers throughout, so
    equality is exact, and the same md5 hash family lets DuckDB
    replay both paths including collisions.

    Scale shape: two D×W bounded sketch aggs + a D×W-row merge —
    the per-day / per-partition sketch rollup that never rescans
    history, mirrored for cardinality by agg_hll_merge.
    """
    from ..operators.sketches import countmin_build, countmin_estimate

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
    sa = countmin_build(tok.filter(F.col("doc_id") % 2 == 0), "tok")
    sb = countmin_build(tok.filter(F.col("doc_id") % 2 == 1), "tok")
    merged = (
        sa.unionByName(sb)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = countmin_build(tok, "tok")
    top10 = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(10)
    )
    ed = countmin_estimate(direct, top10, "tok").select(
        "tok", "n_occurrences", F.col("cms_estimate").alias("cms_direct")
    )
    em = countmin_estimate(merged, top10, "tok").select(
        "tok", F.col("cms_estimate").alias("cms_merged")
    )
    return ed.join(em, "tok").select(
        "tok",
        "n_occurrences",
        "cms_direct",
        "cms_merged",
        (F.col("cms_direct") == F.col("cms_merged")).alias("merge_exact"),
    )


@query(
    "text_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok
      FROM documents WHERE doc_id % 50 = 0
    ),
    hashed AS (
      SELECT doc_id,
        CAST(CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256 AS BIGINT)
          AS feature_idx,
        CASE WHEN CAST('0x' || substr(md5('s:' || tok), 1, 15) AS BIGINT) % 2
                  = 0
             THEN 1 ELSE -1 END AS sgn
      FROM tok
    )
    SELECT doc_id, feature_idx, CAST(SUM(sgn) AS BIGINT) AS weight
    FROM hashed GROUP BY doc_id, feature_idx
    HAVING SUM(sgn) <> 0
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (the 'hashing trick' vectorizer):
    token → md5-derived dimension in [0, 256) with a ±1 sign from an
    independent hash bit, summed per (doc, dimension) — the
    vocabulary-free sparse featurizer (Weinberger et al. 2009) that
    needs NO fitted dictionary, NO vocabulary broadcast, and therefore
    no second pass: at 100 TB the whole featurization is one explode +
    one partial-aggregated groupBy, embarrassingly parallel.  The sign
    bit makes collisions cancel in expectation (unbiased inner
    products); zero-sum cells are dropped like any sparse format
    would.  Doc sample (doc_id % 50) keeps the gate output bounded;
    the operator is size-agnostic."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
    hashed = tok.select(
        "doc_id",
        (T.md5_hash64("tok") % 256).alias("feature_idx"),
        F.when(
            T.md5_hash64(F.concat(F.lit("s:"), F.col("tok"))) % 2 == 0, 1
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    return (
        hashed.groupBy("doc_id", "feature_idx")
        .agg(F.sum("sgn").alias("weight"))
        .filter(F.col("weight") != 0)
    )


_QM_DIMS = 256
_QM_BIAS = -20  # centi-units


def _qm_weight_sql(idx: str) -> str:
    # frozen "trained" weight table: w[d] = ((d*37) % 101) - 50 centi-units
    return f"((({idx}) * 37) % 101) - 50"


@query(
    "text_quality_model_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ),
    contrib AS (
      SELECT doc_id,
        (CASE WHEN CAST('0x' || substr(md5('s:' || tok), 1, 15) AS BIGINT)
                   % 2 = 0 THEN 1 ELSE -1 END)
        * ({_qm_weight_sql(
            f"CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {_QM_DIMS}"
        )}) AS c
      FROM tok
    ),
    logits AS (
      SELECT doc_id, CAST({_QM_BIAS} + SUM(c) AS BIGINT) AS logit_centi
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, logit_centi,
      ROUND(1.0 / (1.0 + exp(-(CAST(logit_centi AS DOUBLE) / 100.0))), 9)
        AS score,
      (logit_centi > 0) AS keep
    FROM logits
    """,
)
def text_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen linear quality-classifier INFERENCE as pure codegen — how
    a trained fastText/logreg-style doc filter actually deploys at
    100 TB: no model server, no Python UDF, no join.  Because the model
    is linear over hashed features (the text_feature_hashing space),
    per-document logits decompose into per-TOKEN contributions
    sign(tok) * w[h(tok)] summed map-side — one explode + one partial
    agg, identical shape to a word count.  Weights live in integer
    centi-units so the accumulation is exact (order-independent); the
    sigmoid runs once per doc on an exact operand, bit-identical in
    both engines.  Swapping in real trained weights = replacing the
    weight expression with a 256-literal array lookup; the plan does
    not change.
    """
    h = T.md5_hash64("tok")
    sgn = F.when(
        T.md5_hash64(F.concat(F.lit("s:"), F.col("tok"))) % 2 == 0, 1
    ).otherwise(-1)
    w = ((h % _QM_DIMS) * 37) % 101 - 50
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
    logits = tok.select("doc_id", (sgn * w).alias("c")).groupBy("doc_id").agg(
        (F.lit(_QM_BIAS) + F.sum("c")).cast("bigint").alias("logit_centi")
    )
    # exp() is NOT bit-identical across libm implementations (observed
    # 1-ulp differences vs DuckDB), so the gate-facing probability is
    # rounded to 9 places and the keep decision comes from the EXACT
    # integer logit (sigmoid > 0.5 <=> logit > 0).
    score = F.round(
        1.0 / (1.0 + F.exp(-(F.col("logit_centi").cast("double") / 100.0))),
        9,
    )
    return logits.select(
        "doc_id",
        "logit_centi",
        score.alias("score"),
        (F.col("logit_centi") > 0).alias("keep"),
    )


@query(
    "text_lang_source_drift",
    oracle="""
    WITH obs AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents GROUP BY source, lang
    ),
    row_t AS (SELECT source, SUM(n) AS rn FROM obs GROUP BY source),
    col_t AS (SELECT lang, SUM(n) AS cn FROM obs GROUP BY lang),
    tot AS (SELECT SUM(n) AS t FROM obs)
    SELECT o.source, o.lang, o.n,
      CAST(r.rn * c.cn AS DOUBLE) / t.t AS expected,
      (CAST(o.n AS DOUBLE) - CAST(r.rn * c.cn AS DOUBLE) / t.t)
        * (CAST(o.n AS DOUBLE) - CAST(r.rn * c.cn AS DOUBLE) / t.t)
        / (CAST(r.rn * c.cn AS DOUBLE) / t.t) AS chi2_contrib
    FROM obs o
    JOIN row_t r ON o.source = r.source
    JOIN col_t c ON o.lang = c.lang
    CROSS JOIN tot t
    """,
)
def text_lang_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix drift across corpus sources: the chi-square
    contribution of every (source, lang) cell against the
    independence expectation — the categorical drift detector a
    mixture-monitoring pipeline runs per ingest batch (a cell whose
    contribution spikes is a source whose language mix shifted).  All
    inputs to the float arithmetic are exact BIGINT counts (one
    contingency aggregate + marginals broadcast back), so expected and
    contribution are bit-identical in both engines — a replayable
    statistical test, same discipline as the HLL estimate.
    """
    d = table(spark, sf_dir, "documents")
    obs = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    row_t = obs.groupBy("source").agg(F.sum("n").alias("rn"))
    col_t = obs.groupBy("lang").agg(F.sum("n").alias("cn"))
    tot = obs.agg(F.sum("n").alias("t"))
    expected = (F.col("rn") * F.col("cn")).cast("double") / F.col("t")
    dev = F.col("n").cast("double") - expected
    return (
        obs.join(F.broadcast(row_t), "source")
        .join(F.broadcast(col_t), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n",
            expected.alias("expected"),
            (dev * dev / expected).alias("chi2_contrib"),
        )
    )


@query("text_compression_ratio")  # no oracle: zlib has no SQL twin
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressibility-based repetitiveness filter (Gopher /
    RefinedWeb): per-doc zlib DEFLATE ratio, flagging docs whose
    compressed size is under 35% of raw — repeated structure that
    token-level heuristics (text_repetition_filter) can miss and
    vice versa; production stacks run both.  Arrow mapInPandas, one
    deflate per doc inside the scan; rows-only gate by design (zlib is
    not SQL-expressible) with golden unit tests pinning exact ratios.
    """
    from ..operators.text_analysis import compression_ratios

    d = table(spark, sf_dir, "documents")
    out = compression_ratios(d, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        "ratio",
        (F.col("ratio") < 0.35).alias("is_repetitive"),
    )


# Positional phrase search: the exact-phrase retrieval primitive.
_PHRASE = ("table", "hash")


@query(
    "text_phrase_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS ts FROM documents
    ), pos AS (
      SELECT doc_id, unnest(ts) AS tok,
             generate_subscripts(ts, 1) AS p
      FROM toks
    ), a AS (
      SELECT doc_id, p FROM pos WHERE tok = '{_PHRASE[0]}'
    ), b AS (
      SELECT doc_id, p FROM pos WHERE tok = '{_PHRASE[1]}'
    )
    SELECT a.doc_id, COUNT(*) AS n_matches,
      CAST(MIN(a.p) AS BIGINT) AS first_pos
    FROM a JOIN b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    GROUP BY a.doc_id
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search ('table hash') through POSITIONAL postings —
    the retrieval primitive BM25 term scoring cannot express: a match
    requires the terms at CONSECUTIVE positions, found by equi-joining
    the two terms' posting lists on (doc, adjacent position).  Returns
    per-document match counts and first offset.

    Scale shape: posting lists are filtered at the explode (only the
    phrase's terms survive — predicate pushdown through the Generate),
    so the join touches df(term) rows per term, never the corpus; for
    k-term phrases the same join chains k-1 times on rare-term-first
    order.  This is how a search engine verifies phrase queries over
    an inverted index, as a DataFrame plan.
    """
    d = table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    a = pos.filter(F.col("tok") == _PHRASE[0]).select(
        "doc_id", F.col("p").alias("pa")
    )
    b = pos.filter(F.col("tok") == _PHRASE[1]).select(
        "doc_id", F.col("p").alias("pb")
    )
    return (
        a.join(
            b,
            (a["doc_id"] == b["doc_id"]) & (F.col("pb") == F.col("pa") + 1),
        )
        .select(a["doc_id"], "pa")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.min("pa").cast("bigint").alias("first_pos"),
        )
    )


def _calibrate_oracle() -> str:
    from .registry import ORACLES

    qm = ORACLES["text_quality_model_score"]
    return f"""
    WITH qm AS ({qm}), lg AS (
      SELECT d.source, q.logit_centi
      FROM qm q JOIN documents d USING (doc_id)
    ), hist AS (
      SELECT source, logit_centi, COUNT(*) AS cnt
      FROM lg GROUP BY source, logit_centi
    ), cum AS (
      SELECT source, logit_centi, cnt,
        SUM(cnt) OVER (
          PARTITION BY source ORDER BY logit_centi DESC) AS cum
      FROM hist
    ), stats AS (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN logit_centi > 0 THEN cnt ELSE 0 END)
             AS BIGINT) AS global_kept
      FROM hist GROUP BY source
    ), tgt AS (
      SELECT source, n_docs, global_kept,
        CAST((n_docs * 40) // 100 AS BIGINT) AS target_kept
      FROM stats
    )
    SELECT t.source, t.n_docs, t.target_kept,
      MAX(c.logit_centi) AS threshold_centi,
      CAST(MIN(c.cum) AS BIGINT) AS n_kept,
      t.global_kept
    FROM tgt t JOIN cum c
      ON t.source = c.source AND c.cum >= t.target_kept
    WHERE t.target_kept >= 1
    GROUP BY t.source, t.n_docs, t.target_kept, t.global_kept
    """


@query("curation_quality_calibrate", oracle=_calibrate_oracle())
def curation_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain calibration of the frozen linear quality classifier
    (RedPajama-2/DCLM practice): a single global threshold keeps very
    different fractions of each source domain — web text scores lower
    than curated text wholesale — so production filters calibrate a
    PER-DOMAIN threshold hitting a uniform target keep rate (here 40%)
    instead.  For each source this emits the exact threshold: the
    largest logit t such that >= target documents score >= t, i.e.
    the target-th largest logit value, plus the actual kept count
    (ties at the threshold inflate it past the target — reported, not
    hidden) and the count the UNcalibrated global logit>0 rule would
    have kept, making the calibration delta visible per domain.

    Engine-exact: logits are exact integer centi-units (composed from
    the REGISTERED text_quality_model_score operator/oracle pair), the
    target is integer arithmetic (n*40 DIV 100), and the threshold
    selection is MAX/MIN over an integer histogram — no percentile
    interpolation, no float ranks.

    Scale shape: one doc-grain aggregate (the scorer) → one
    (source, logit) histogram aggregate (map-combined; bounded by the
    centi-logit value range, NOT the corpus) → a cumulative window and
    threshold join over HISTOGRAM rows only.  No document-grain window
    anywhere, so no per-domain sort of the corpus — the shape survives
    domains of wildly different sizes (the skew case a doc-level
    row_number calibration would hit).
    """
    from .registry import QUERIES

    d = table(spark, sf_dir, "documents")
    lg = (
        QUERIES["text_quality_model_score"](spark, sf_dir)
        .select("doc_id", "logit_centi")
        .join(d.select("doc_id", "source"), "doc_id")
    )
    hist = lg.groupBy("source", "logit_centi").agg(
        F.count("*").alias("cnt")
    )
    wcum = Window.partitionBy("source").orderBy(F.desc("logit_centi"))
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    stats = hist.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("logit_centi") > 0, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("global_kept"),
    )
    tgt = stats.select(
        "source",
        "n_docs",
        "global_kept",
        F.expr("CAST((n_docs * 40) DIV 100 AS BIGINT)").alias(
            "target_kept"
        ),
    ).filter(F.col("target_kept") >= 1)
    return (
        cum.join(F.broadcast(tgt), "source")
        .filter(F.col("cum") >= F.col("target_kept"))
        .groupBy("source", "n_docs", "target_kept", "global_kept")
        .agg(
            F.max("logit_centi").alias("threshold_centi"),
            F.min("cum").cast("bigint").alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "target_kept",
            "threshold_centi",
            "n_kept",
            "global_kept",
        )
    )


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT d.source,
        CAST(len({_TOKENS}) AS BIGINT) AS ws,
        CAST(len(regexp_extract_all(COALESCE(text, ''),
          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe
      FROM documents d
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(ws) AS BIGINT) AS ws_tokens,
      CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
      CAST((SUM(bpe) * 1000000) // GREATEST(SUM(ws), 1) AS BIGINT)
        AS fertility_ppm
    FROM t GROUP BY source
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per domain — BPE-ish tokens produced per
    whitespace word (the compression-efficiency metric every tokenizer
    report tables per language/domain: high fertility = the tokenizer
    fragments that domain, inflating training cost per effective
    word).  Integer parts-per-million ratio of two exact token-count
    sums, so both engines agree exactly.

    Scale shape: one stateless projection (both token counts are
    codegen'd regex/split ops fused into the scan) + one map-combined
    per-source aggregate; output is domain-cardinality.  Swapping in a
    real tokenizer = swapping the bpe count column for the tokenize
    kernel's output length — the plan does not change (the same
    injectable-kernel contract as sources/shards.tokenize_ids).
    """
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        T.token_count("text").cast("bigint").alias("ws"),
        T.bpe_token_count("text").cast("bigint").alias("bpe"),
    )
    return t.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ws").cast("bigint").alias("ws_tokens"),
        F.sum("bpe").cast("bigint").alias("bpe_tokens"),
        F.expr(
            "CAST((SUM(bpe) * 1000000) DIV GREATEST(SUM(ws), 1) AS BIGINT)"
        ).alias("fertility_ppm"),
    )


# Substring-search needles (literal constants so both engines compile
# the same scan; the trigram set is derived from them at plan-build).
_TRGM_PATTERNS = ("sort table", "stream spark window")


def _trgm_oracle() -> str:
    parts = []
    for pat in _TRGM_PATTERNS:
        n = len(pat)
        parts.append(f"""
        SELECT '{pat}' AS pattern, doc_id,
          CAST(instr(text, '{pat}') AS BIGINT) AS first_pos,
          CAST((length(text) - length(replace(text, '{pat}', ''))) // {n}
               AS BIGINT) AS n_occurrences
        FROM documents WHERE text LIKE '%{pat}%'""")
    return " UNION ALL ".join(parts)


@query("text_trigram_search", oracle=_trgm_oracle())
def text_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-index substring search (the pg_trgm / code-search
    pattern): instead of scanning every document's full text per
    needle, each doc is reduced to its DISTINCT character trigrams,
    candidate docs are those containing ALL of a needle's trigrams
    (posting-list intersection via one hash agg with an exact count
    condition), and only candidates pay the exact contains() verify.
    The oracle is the brute-force LIKE scan — the gate proves the
    index path returns byte-identical results to the full scan.

    Scale shape (r13, map-only): the doc's distinct-trigram set is a
    per-row array; the needle's trigram set is a plan literal, so the
    posting-list intersection is ``size(array_intersect(tg, needle_tg))
    == |needle_tg|`` evaluated in the scan stage — the explode →
    posting agg → candidate join of the original shape removed (that
    shape scanned documents TWICE per needle; this one scans once per
    needle with zero shuffles — same candidate set by definition:
    membership in the trigram array ⇔ the needle trigram occurs in the
    doc).  At 100 TB the posting table would be materialized once and
    shared across needles; the per-row intersection here is the
    index-probe semantics inlined, which the gate can value-check.
    Selectivity discipline: candidates = docs matching all |needle|-2
    trigrams, a superset of true matches only where trigrams reorder
    (verified away).
    """
    d = table(spark, sf_dir, "documents", spread=True)
    # greatest(..., 0) guards sub-3-char texts: sequence(1, -1) would
    # auto-step DOWNWARD ([1, 0, -1]) and emit junk postings built from
    # zero/negative substring positions.  sequence(1, 0) is empty.
    trgm = F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(text) - 2, 0)),"
            " i -> substring(text, i, 3))"
        )
    )
    keyed = d.select("doc_id", "text", trgm.alias("_tg"))
    out = None
    for pat in _TRGM_PATTERNS:
        n = len(pat)
        q_trgms = sorted({pat[i : i + 3] for i in range(n - 2)})
        hits = (
            keyed.filter(
                F.size(
                    F.array_intersect(
                        F.col("_tg"), F.array(*[F.lit(t) for t in q_trgms])
                    )
                )
                == len(q_trgms)
            )
            .filter(F.col("text").contains(pat))
            .select(
                F.lit(pat).alias("pattern"),
                "doc_id",
                F.instr("text", pat).cast("bigint").alias("first_pos"),
                F.expr(
                    f"CAST((length(text) - length(replace(text, '{pat}', ''))) "
                    f"DIV {n} AS BIGINT)"
                ).alias("n_occurrences"),
            )
        )
        out = hits if out is None else out.unionByName(hits)
    return out


@query(
    "text_type_token_ratio",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOKENS}) AS tok FROM documents
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types,
      CAST(COUNT(DISTINCT tok) * 1000000 // COUNT(*) AS BIGINT) AS ttr_ppm
    FROM tok GROUP BY source
    """,
)
def text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio (lexical diversity) per source — the
    vocabulary-richness quality signal: template/boilerplate-heavy
    sources score low (few types, many tokens), diverse prose scores
    high.  Integer ppm so the ratio is engine-exact.

    Scale shape: one explode + a distinct-agg on (source, tok) — the
    distinct count partial-aggregates map-side (Expand + two-level
    HashAggregate), never collecting a vocabulary anywhere.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(T.tokens("text")).alias("tok"))
    return tok.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("tok").alias("n_types"),
        F.expr(
            "CAST(COUNT(DISTINCT tok) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("ttr_ppm"),
    )


@query(
    "curation_length_histogram",
    oracle=f"""
    WITH lens AS (
      SELECT len(list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                             t -> t <> '')) AS n_tok
      FROM documents
    ), b AS (
      SELECT n_tok,
        CASE WHEN n_tok = 0 THEN 0
             ELSE length(bin(CAST(n_tok AS BIGINT)))
        END AS bucket
      FROM lens
    ), hist AS (
      SELECT bucket, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS token_mass
      FROM b GROUP BY bucket
    ), tot AS (SELECT SUM(token_mass) AS t FROM hist)
    SELECT CAST(bucket AS BIGINT) AS bucket,
      CAST(CASE WHEN bucket = 0 THEN 0 ELSE 2**(bucket-1) END AS BIGINT)
        AS bucket_lo,
      CAST(n_docs AS BIGINT) AS n_docs, token_mass,
      CAST(token_mass * 1000000 // t AS BIGINT) AS mass_share_ppm
    FROM hist CROSS JOIN tot
    """,
)
def curation_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram with token-mass shares —
    the planning signal behind sequence-packing efficiency (how much
    of the corpus's token mass sits in docs shorter than the context
    window decides the packing strategy and the truncation loss).

    The bucket is the INTEGER bit-length of the token count (the
    adaptive-SimHash device: ``length(bin(n))`` on both engines), so
    bucket b spans [2^(b-1), 2^b) exactly with no float log anywhere;
    mass shares are integer ppm.

    Scale shape: per-doc token count is a map-side expression, the
    histogram is a bit-length-keyed aggregate (≤ 64 groups at any
    corpus size), the total is a 1-row broadcast.
    """
    d = table(spark, sf_dir, "documents")
    b = d.select(
        T.token_count("text").cast("bigint").alias("n_tok")
    ).select(
        "n_tok",
        F.when(F.col("n_tok") == 0, 0)
        .otherwise(F.length(F.bin("n_tok")))
        .cast("bigint")
        .alias("bucket"),
    )
    # hist is referenced twice (total + shares); pinned so the
    # tokenizing corpus scan runs once (≤64 rows, free to cache).
    hist = b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("token_mass"),
    ).cache()
    tot = hist.agg(F.sum("token_mass").alias("t"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.when(F.col("bucket") == 0, F.lit(0))
        .otherwise(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket - 1 AS INT))")
        )
        .cast("bigint")
        .alias("bucket_lo"),
        "n_docs",
        "token_mass",
        F.expr("CAST(token_mass * 1000000 DIV t AS BIGINT)").alias(
            "mass_share_ppm"
        ),
    )


def _langid_confusion_oracle() -> str:
    from .registry import ORACLES

    return f"""
    WITH pred AS ({ORACLES["text_lang_id"]}),
    cells AS (
      SELECT lang, lang_guess, COUNT(*) AS n FROM pred GROUP BY 1, 2
    ), marg AS (
      SELECT lang, SUM(n) AS tot FROM cells GROUP BY lang
    )
    SELECT c.lang, c.lang_guess, CAST(c.n AS BIGINT) AS n,
      c.lang = c.lang_guess AS correct,
      CAST(c.n * 1000000 // m.tot AS BIGINT) AS row_share_ppm
    FROM cells c JOIN marg m ON c.lang = m.lang
    """


@query("text_langid_confusion", oracle=_langid_confusion_oracle())
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the confusion matrix of the
    stopword-argmax language identifier against the corpus's labeled
    ``lang`` column — per (true, predicted) cell the count and its
    share of the true language's row (integer ppm).  The
    model-evaluation surface every quality classifier in the pipeline
    needs, expressed over the REGISTERED operator (both engines
    compose the registered langid plan/SQL, so the eval checks exactly
    what text_lang_id ships).

    Scale shape: the langid pass is one token explode + conditional
    sums; the matrix is a (|langs|+1)² cell aggregate; marginals are a
    |langs|-row join.
    """
    from .registry import QUERIES

    from pyspark.sql.functions import broadcast

    pred = QUERIES["text_lang_id"](spark, sf_dir).select("lang", "lang_guess")
    cells = pred.groupBy("lang", "lang_guess").agg(F.count("*").alias("n"))
    marg = cells.groupBy("lang").agg(F.sum("n").alias("tot"))
    return cells.join(broadcast(marg), "lang").select(
        "lang",
        "lang_guess",
        F.col("n").cast("bigint").alias("n"),
        (F.col("lang") == F.col("lang_guess")).alias("correct"),
        F.expr("CAST(n * 1000000 DIV tot AS BIGINT)").alias("row_share_ppm"),
    )


def _bias_oracle() -> str:
    from .registry import ORACLES

    return f"""
    WITH qm AS ({ORACLES["text_quality_model_score"]}),
    joined AS (
      SELECT d.source,
        CAST(len(list_filter(string_split_regex(COALESCE(d.text, ''), '\\s+'),
                             t -> t <> '')) AS HUGEINT) AS x,
        CAST(q.logit_centi AS HUGEINT) AS y
      FROM documents d JOIN qm q ON d.doc_id = q.doc_id
    ), s AS (
      SELECT source, COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
        SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM joined GROUP BY source
    )
    SELECT source, CAST(m AS BIGINT) AS n_docs,
      CAST(m * sxy - sx * sy AS DOUBLE) AS cov_num,
      CASE WHEN (m * sxx - sx * sx) = 0 OR (m * syy - sy * sy) = 0
           THEN NULL
           ELSE ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                             * CAST(m * syy - sy * sy AS DOUBLE)), 9)
      END AS corr
    FROM s
    """


@query("audit_quality_length_bias", oracle=_bias_oracle())
def audit_quality_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias audit of the quality classifier: the Pearson correlation
    between a document's TOKEN COUNT and its quality logit, per source
    — the standard check that a "quality" filter isn't just a length
    filter in disguise (a classifier that mostly ranks long documents
    high silently skews the surviving corpus toward long-form
    sources).  Composes the REGISTERED scorer on both engines; the
    correlation uses the same exact-integer-moments device as
    events_acf_lags (one IEEE sqrt/divide at the end, rounded to 9).

    Scale shape: the scorer's token explode + partial agg, one
    source-keyed moment aggregate, source-cardinality output.
    """
    from pyspark.sql.functions import broadcast as _b  # noqa: F401
    from .registry import QUERIES

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", T.token_count("text").cast("long").alias("x")
    )
    q = QUERIES["text_quality_model_score"](spark, sf_dir).select(
        "doc_id", F.col("logit_centi").alias("y")
    )
    d18 = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    s = (
        d.join(q, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("m"),
            F.sum(d18("x")).alias("sx"),
            F.sum(d18("y")).alias("sy"),
            F.sum(d18("x") * d18("y")).alias("sxy"),
            F.sum(d18("x") * d18("x")).alias("sxx"),
            F.sum(d18("y") * d18("y")).alias("syy"),
        )
    )
    md = F.col("m").cast("decimal(18,0)")
    num = md * F.col("sxy") - F.col("sx") * F.col("sy")
    den1 = md * F.col("sxx") - F.col("sx") * F.col("sx")
    den2 = md * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "source",
        F.col("m").cast("bigint").alias("n_docs"),
        num.cast("double").alias("cov_num"),
        F.when((den1 == 0) | (den2 == 0), F.lit(None)).otherwise(
            F.round(
                num.cast("double")
                / F.sqrt(den1.cast("double") * den2.cast("double")),
                9,
            )
        ).alias("corr"),
    )


_DRIFT_A, _DRIFT_B = "src0", "src1"
_DRIFT_K = 25  # report the K most-drifting tokens


@query(
    "text_vocab_drift",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOKENS}) AS token FROM documents
      WHERE source IN ('{_DRIFT_A}', '{_DRIFT_B}')
    ), cnt AS (
      SELECT token,
        SUM(CASE WHEN source = '{_DRIFT_A}' THEN 1 ELSE 0 END) AS obs_a,
        SUM(CASE WHEN source = '{_DRIFT_B}' THEN 1 ELSE 0 END) AS obs_b
      FROM tok GROUP BY token
    ), tot AS (
      SELECT SUM(obs_a) AS n_a, SUM(obs_b) AS n_b FROM cnt
    ), scored AS (
      SELECT token, obs_a, obs_b,
        abs(obs_a * n_b - obs_b * n_a) AS cross_diff,
        CAST(obs_a * n_b - obs_b * n_a AS DOUBLE)
          * CAST(obs_a * n_b - obs_b * n_a AS DOUBLE)
          / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
             * CAST((obs_a + obs_b) * (n_a + n_b) AS DOUBLE)) AS chi2_term
      FROM cnt CROSS JOIN tot
    )
    SELECT token, CAST(obs_a AS BIGINT) AS obs_a,
      CAST(obs_b AS BIGINT) AS obs_b,
      CAST(cross_diff AS BIGINT) AS cross_diff, chi2_term,
      CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cross_diff DESC, token) AS rk
      FROM scored
    ) WHERE rk <= {_DRIFT_K}
    """,
)
def text_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two sources: the K tokens whose usage
    rates differ most — distribution-shift triage before mixing or
    re-weighting corpora.  The ranking key is the EXACT integer
    cross-difference |obs_a·N_b − obs_b·N_a| (rate difference scaled
    by N_a·N_b — no float enters the order), and each reported token
    carries its two-sample χ² term computed in a fixed single-row
    chain of IEEE ops (exact operands, one division) so both engines
    emit identical doubles.

    Scale shape: one token-keyed conditional-count aggregate
    (map-combined), a 1-row totals broadcast, TakeOrdered-K on the
    integer key.  Never a float aggregate across tokens (order-
    dependent), never a global sort.
    """
    d = table(spark, sf_dir, "documents", spread=True).filter(
        F.col("source").isin(_DRIFT_A, _DRIFT_B)
    )
    tok = d.select("source", F.explode(T.tokens("text")).alias("token"))
    cnt = tok.groupBy("token").agg(
        F.sum((F.col("source") == _DRIFT_A).cast("long")).alias("obs_a"),
        F.sum((F.col("source") == _DRIFT_B).cast("long")).alias("obs_b"),
    )
    tot = cnt.agg(
        F.sum("obs_a").alias("n_a"), F.sum("obs_b").alias("n_b")
    )
    scored = cnt.crossJoin(F.broadcast(tot)).select(
        "token",
        "obs_a",
        "obs_b",
        F.abs(F.col("obs_a") * F.col("n_b") - F.col("obs_b") * F.col("n_a"))
        .alias("cross_diff"),
        (
            (F.col("obs_a") * F.col("n_b") - F.col("obs_b") * F.col("n_a"))
            .cast("double")
            * (F.col("obs_a") * F.col("n_b") - F.col("obs_b") * F.col("n_a"))
            .cast("double")
            / (
                F.col("n_a").cast("double")
                * F.col("n_b").cast("double")
                * ((F.col("obs_a") + F.col("obs_b")) * (F.col("n_a") + F.col("n_b")))
                .cast("double")
            )
        ).alias("chi2_term"),
    )
    w = Window.orderBy(F.desc("cross_diff"), "token")
    return (
        scored.orderBy(F.desc("cross_diff"), "token")
        .limit(_DRIFT_K)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .select("token", "obs_a", "obs_b", "cross_diff", "chi2_term", "rk")
    )


_KWIC_WINDOW = 30


def _kwic_oracle() -> str:
    branches = []
    for pat in _TRGM_PATTERNS:
        branches.append(f"""
    SELECT '{pat}' AS pattern, doc_id,
      CAST(instr(text, '{pat}') AS BIGINT) AS pos,
      substr(text,
        CASE WHEN instr(text, '{pat}') - {_KWIC_WINDOW} < 1 THEN 1
             ELSE instr(text, '{pat}') - {_KWIC_WINDOW} END,
        CASE WHEN instr(text, '{pat}') - {_KWIC_WINDOW} < 1
             THEN instr(text, '{pat}') - 1 ELSE {_KWIC_WINDOW} END)
        AS left_ctx,
      substr(text, instr(text, '{pat}') + {len(pat)}, {_KWIC_WINDOW})
        AS right_ctx
    FROM documents WHERE instr(text, '{pat}') > 0""")
    return " UNION ALL ".join(branches)


@query("text_kwic", oracle=_kwic_oracle())
def text_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance: for each fixed needle, every
    matching document's FIRST occurrence with ±30 chars of context —
    the corpus-inspection view behind "show me how this phrase is
    actually used" during curation triage (and the human-review
    surface for decontamination hits).

    Scale shape: pure map expressions (instr/substr in codegen) over
    one documents scan shared by both needles; matches are the only
    surviving rows.  No shuffle at all.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    out = None
    for pat in _TRGM_PATTERNS:
        pos = F.instr("text", pat)
        left_start = F.when(pos - _KWIC_WINDOW < 1, F.lit(1)).otherwise(
            pos - _KWIC_WINDOW
        )
        left_len = F.when(pos - _KWIC_WINDOW < 1, pos - 1).otherwise(
            F.lit(_KWIC_WINDOW)
        )
        hit = d.filter(pos > 0).select(
            F.lit(pat).alias("pattern"),
            "doc_id",
            pos.cast("bigint").alias("pos"),
            F.substring(F.col("text"), left_start, left_len).alias("left_ctx"),
            F.substring(
                F.col("text"), pos + len(pat), _KWIC_WINDOW
            ).alias("right_ctx"),
        )
        out = hit if out is None else out.unionByName(hit)
    return out


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKENS}) AS token FROM documents
    ), freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY token
    ), top AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, token) AS r
      FROM freq ORDER BY f DESC, token LIMIT 128
    ), pts AS (
      SELECT length(bin(r)) - 1 AS x, length(bin(f)) - 1 AS y FROM top
    ), sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        CAST(SUM(x * y) AS BIGINT) AS sxy,
        CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n_ranks, sx, sy, sxy, sxx,
      CAST(n_ranks * sxy - sx * sy AS DOUBLE)
        / (n_ranks * sxx - sx * sx) AS zipf_slope
    FROM sums
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent estimate for the corpus vocabulary — the
    rank-frequency slope that quantifies how hot the token head is
    (natural language ≈ −1; flatter means synthetic/uniform text,
    steeper means a pathological head like the r10 skew corpus's
    shared 'h9' token).  Read next to events_hot_key_profile: one
    profiles the shuffle key, this profiles the vocabulary every
    shingle/posting operator keys on.

    Engine-exact trick (same device as text_surprisal_score): the
    log-log regression runs on floor-log2 buckets via bit length —
    x = ⌊log2 rank⌋, y = ⌊log2 freq⌋, both exact integers — so all
    four moment sums are exact BIGINTs (order-independent, value-
    hashable) and the slope is ONE IEEE division of exact operands.
    True-ln slopes differ by at most the bucket quantization, which a
    monitoring threshold never notices; transcendental partial-sum
    order would break cross-engine hashing.

    Scale shape: one token-keyed count (map-combined), TakeOrdered-128
    on (freq desc, token), rank via a window over the 128-row
    post-limit frame (tiny-window whitelist), one 1-row moment
    aggregate.
    """
    d = table(spark, sf_dir, "documents", spread=True)
    tok = d.select(F.explode(T.tokens("text")).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").cast("bigint").alias("f"))
    top = freq.orderBy(F.desc("f"), "token").limit(128)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), "token"))
    )
    pts = ranked.select(
        (F.length(F.bin("r")) - 1).cast("long").alias("x"),
        (F.length(F.bin("f")) - 1).cast("long").alias("y"),
    )
    return pts.agg(
        F.count("*").cast("bigint").alias("n_ranks"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    ).select(
        "n_ranks",
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.expr(
            "CAST(n_ranks * sxy - sx * sy AS DOUBLE)"
            " / (n_ranks * sxx - sx * sx)"
        ).alias("zipf_slope"),
    )
