"""Document-level text analysis operators (library surface).

Same design rule as operators/dedup.py: tokenization happens ONCE via
explode (a Generate barrier Catalyst can't inline away), per-token
hashing is a codegen'd projection, and per-document reductions are
hash aggregates.  Folding md5 inside a higher-order ``aggregate``
lambda is 30-50× slower (interpreted per element) — measured on the
sf0.1 documents table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T

ROLLING_MOD = T.ROLLING_HASH_MOD


def token_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, tok) — ordered token explode."""
    return df.select(
        F.col(id_col), F.posexplode(T.tokens(text_col)).alias("pos", "tok")
    )


def rolling_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint) — order-sensitive polynomial rolling hash.

    Per-token md5 hashes compute in a codegen'd projection; the ordered
    fold runs over the collected per-doc hash array (plain integer
    arithmetic — cheap even interpreted).  Docs with no tokens are
    absent (callers left-join if they need zeros).
    """
    tok = token_rows(df, id_col, text_col)
    hashed = tok.select(
        F.col(id_col),
        F.col("pos"),
        (T.md5_hash64(F.col("tok")) % ROLLING_MOD).alias("h"),
    )
    arrs = hashed.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "h"))),
            lambda s: s.getField("h"),
        ).alias("hs")
    )
    fp = F.aggregate(
        "hs",
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % ROLLING_MOD,
    )
    return arrs.select(F.col(id_col), fp.alias("fingerprint"))


def token_aggregates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stoplists: dict[str, list[str]] | None = None,
) -> DataFrame:
    """(id, n_tokens, hits_<lang>...) via one token explode.

    Counting stopword hits by filtering the token *array* per language
    is an interpreted higher-order scan per language per document —
    measured 28× slower at 10× scale.  Here: one explode, one codegen'd
    `lower(tok) IN (...)` per language, one partial-aggregated groupBy.
    Zero-token documents are restored by the caller's left join.
    """
    if stoplists is None:
        stoplists = T.STOPWORDS
    tok = token_rows(df, id_col, text_col)
    aggs = [F.count("*").cast("int").alias("n_tokens")]
    for lang in sorted(stoplists):
        aggs.append(
            F.sum(
                F.when(F.lower("tok").isin(*stoplists[lang]), 1).otherwise(0)
            )
            .cast("int")
            .alias(f"hits_{lang}")
        )
    return tok.groupBy(id_col).agg(*aggs)


def compression_ratios(
    df: DataFrame, id_col: str, text_col: str, level: int = 6
) -> DataFrame:
    """(id, n_bytes, n_compressed, ratio) — zlib compressibility per
    document, the Gopher/RefinedWeb repetitiveness signal: text whose
    DEFLATE size is a small fraction of its raw size is dominated by
    repeated structure (boilerplate, template spam, looping
    generations) that token-level repetition heuristics can miss.

    Runs as Arrow-batched mapInPandas (zlib has no SQL twin — this is
    one of the documented non-SQL-expressible operators, gated
    rows-only + golden unit tests): one C-speed deflate per document
    inside the scan stage, zero shuffle, output 3 integers + 1 double
    per doc.  Deterministic: fixed level, default strategy — byte-for-
    byte reproducible across runs and platforms (zlib's output is
    fully specified by input, level, strategy and library version;
    version pinned by the container, noted here because a cluster mixing
    zlib builds could diverge — ship the wheel with the job)."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, n_bytes long, n_compressed long, ratio double"
    )

    def batches(it):
        import zlib

        import pandas as pd

        for pdf in it:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            n_bytes = raw.str.len()
            n_comp = raw.map(lambda b: len(zlib.compress(b, level)))
            # Empty docs get a NULL ratio (not n_compressed/1 ≈ 8.0
            # from zlib header overhead) so downstream repetitiveness
            # filters can tell "empty" from "incompressible".
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes,
                    "n_compressed": n_comp,
                    "ratio": (n_comp / n_bytes.where(n_bytes > 0)),
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, out_schema)
