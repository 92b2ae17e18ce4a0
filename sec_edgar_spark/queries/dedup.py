"""Deduplication operators over the documents table.

Four families, each the standard scale-out formulation:

- exact:   md5(normalized text) → hash groupBy, keep min doc_id.
- minhash: shingle → K md5-minhashes → band keys → bucket self-join →
           candidate pairs → exact Jaccard verify.  The self-join happens
           only inside LSH buckets, never all-pairs.
- simhash: 16-bit portable simhash; near-dups = same fingerprint bucket.
- ngram-jaccard: exact Jaccard on shingle sets for candidate pairs.

Everything is md5-based (functions/text.py) so DuckDB reproduces the
exact integers; no engine-native hash in any result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..catalog import table
from ..functions import text as T
from .registry import QUERIES, query


NUM_MINHASHES = 12
BANDS = 4  # 3 hashes per band
ROWS_PER_BAND = NUM_MINHASHES // BANDS

_TOKENS = "list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), t -> t <> '')"


def _shingles_sql(n: int = 3) -> str:
    """DuckDB fragment: distinct word-3-gram shingles of ``text``."""
    joined = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
    return (
        f"list_distinct(list_transform(range(1, greatest(len(toks) - {n - 1}, 0) + 1), "
        f"i -> {joined}))"
    )


def _minhash_sql(i: int) -> str:
    """DuckDB fragment mirroring operators.dedup.minhash_signatures:
    min over shingles of (a_i * (md5hash64(s) % P) + b_i) % P."""
    from ..operators.dedup import MINHASH_COEFFS, MINHASH_P

    a, b = MINHASH_COEFFS[i]
    return (
        "list_min(list_transform(sh, s -> "
        f"({a} * (CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {MINHASH_P}) "
        f"+ {b}) % {MINHASH_P}))"
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(trim(text))) AS content_hash,
      COUNT(*) AS n_copies, MIN(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.
    One shuffle on the hash; at 100 TB the hash groupBy is the canonical
    formulation (map-side partial counts collapse singletons)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.lower(F.trim("text"))).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH tokd AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ), shingled AS (
      SELECT doc_id, {_shingles_sql()} AS sh FROM tokd WHERE len(toks) >= 3
    )
    SELECT doc_id,
      {", ".join(f"{_minhash_sql(i)} AS mh{i}" for i in range(4))}
    FROM shingled WHERE len(sh) > 0
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature computation (first 4 of the 12 hashes, value-
    checked against the oracle; the LSH query below uses all 12).
    Pure codegen'd map stage — shingling and hashing never shuffle."""
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents")
    return D.minhash_signatures(d, "doc_id", "text", num_hashes=4)


# Shared by dedup_minhash_lsh_pairs and dedup_connected_components
# (the latter wraps it in a recursive-closure CTE).
_LSH_PAIRS_SQL = f"""
    WITH tokd AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ), shingled AS (
      SELECT doc_id, {_shingles_sql()} AS sh FROM tokd WHERE len(toks) >= 3
    ), sigs AS (
      SELECT doc_id, sh,
        {", ".join(f"{_minhash_sql(i)} AS mh{i}" for i in range(NUM_MINHASHES))}
      FROM shingled WHERE len(sh) > 0
    ), bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band, "
        f"md5({' || chr(58) || '.join(f'mh{b * ROWS_PER_BAND + r}::VARCHAR' for r in range(ROWS_PER_BAND))}) AS band_key "
        f"FROM sigs"
        for b in range(BANDS)
      )}
    ), candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
      CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
    FROM candidates c
    JOIN sigs sa ON c.doc_a = sa.doc_id
    JOIN sigs sb ON c.doc_b = sb.doc_id
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.2
    """


@query("dedup_minhash_lsh_pairs", oracle=_LSH_PAIRS_SQL)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    Scale shape: signatures are a map stage; banding explodes each doc
    into BANDS rows; the self-join shuffles on (band, band_key) — i.e.
    only same-bucket docs meet, the classic all-pairs killer at 100 TB.
    Candidates then verify exact shingle-set Jaccard (array_intersect /
    array_union on already-colocated rows).
    """
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents", spread=True)
    return (
        D.minhash_lsh_dedup(
            d, "doc_id", "text",
            num_hashes=NUM_MINHASHES, bands=BANDS, rows_per_band=ROWS_PER_BAND,
            threshold=0.2,
        )
        .withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b")
    )


# Incremental (new-vs-corpus) LSH screen: "today's batch" = doc_id % 4
# = 0 (a deterministic 25% slice standing in for the newest crawl
# generation), corpus = the rest.  Same signature/banding constants as
# the symmetric pipeline; candidates only cross the generation split.
_INCR_LSH_SQL = f"""
    WITH tokd AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ), shingled AS (
      SELECT doc_id, {_shingles_sql()} AS sh FROM tokd WHERE len(toks) >= 3
    ), sigs AS (
      SELECT doc_id, sh,
        {", ".join(f"{_minhash_sql(i)} AS mh{i}" for i in range(NUM_MINHASHES))}
      FROM shingled WHERE len(sh) > 0
    ), bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band, "
        f"md5({' || chr(58) || '.join(f'mh{b * ROWS_PER_BAND + r}::VARCHAR' for r in range(ROWS_PER_BAND))}) AS band_key "
        f"FROM sigs"
        for b in range(BANDS)
      )}
    ), candidates AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
      FROM bands n JOIN bands c
        ON n.band = c.band AND n.band_key = c.band_key
      WHERE n.doc_id % 4 = 0 AND c.doc_id % 4 <> 0
    )
    SELECT p.new_id, p.corpus_id,
      CAST(len(list_intersect(sn.sh, sc.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(sn.sh, sc.sh))) AS jaccard
    FROM candidates p
    JOIN sigs sn ON p.new_id = sn.doc_id
    JOIN sigs sc ON p.corpus_id = sc.doc_id
    WHERE CAST(len(list_intersect(sn.sh, sc.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(sn.sh, sc.sh))) >= 0.2
    """


@query("dedup_incremental_lsh", oracle=_INCR_LSH_SQL)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screen: which documents of the NEWEST batch
    (doc_id % 4 = 0, a stand-in for today's crawl generation) already
    exist near-verbatim in the corpus (the other 75%)?

    Scale shape (operators/dedup.incremental_lsh_dedup): the band join
    is ASYMMETRIC — new bands probe corpus bands — so candidate volume
    is |new| × bucket density, never |corpus|²; in production the
    corpus band index is persisted bucketed-by-band_key and only the
    increment is hashed per run.  This is the operator that keeps
    continuous-ingest dedup O(|increment|) instead of re-running the
    full self-join every day.
    """
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents", spread=True)
    return D.incremental_lsh_dedup(
        d.filter(F.col("doc_id") % 4 == 0),
        d.filter(F.col("doc_id") % 4 != 0),
        "doc_id",
        "text",
        num_hashes=NUM_MINHASHES,
        bands=BANDS,
        rows_per_band=ROWS_PER_BAND,
        threshold=0.2,
    )


def _simhash_oracle() -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(16)
    )
    fp = " + ".join(f"CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END" for b in range(16))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ), h AS (
      SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok
    ), votes AS (
      SELECT doc_id, {votes} FROM h GROUP BY doc_id
    ), fp AS (
      SELECT d.doc_id, CAST(COALESCE({fp}, 0) AS BIGINT) AS simhash
      FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id
    )
    SELECT simhash, COUNT(*) AS n_docs,
      string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
    FROM fp GROUP BY simhash HAVING COUNT(*) > 1
    """


@query(
    "dedup_simhash",
    # portable md5 bit votes — the SQL reproduces the 16 vote sums and
    # fingerprint assembly exactly (docs with no tokens get simhash 0).
    oracle=_simhash_oracle(),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash16 buckets: docs sharing a fingerprint are near-dup
    candidates.  Portable md5 bit votes; one groupBy on the fingerprint."""
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents")
    return (
        D.simhash_fingerprints(d, "doc_id", "text", bits=16)
        .groupBy("simhash")
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _simhash_hamming_oracle(bits=48, bands=4, max_hamming=6) -> str:
    width = bits // bands
    mask = (1 << width) - 1
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END" for b in range(bits)
    )
    chunks = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS pos, "
        f"(simhash >> {i * width}) & {mask} AS chunk FROM fp"
        for i in range(bands)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ), h AS (
      SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM tok
    ), votes AS (
      SELECT doc_id, {votes} FROM h GROUP BY doc_id
    ), fp AS (
      SELECT d.doc_id, CAST(COALESCE({fp}, 0) AS BIGINT) AS simhash
      FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id
    ), chunks AS (
      {chunks}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, a.simhash AS fp_a,
                      b.doc_id AS id_b, b.simhash AS fp_b
      FROM chunks a JOIN chunks b
        ON a.pos = b.pos AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
    """


def _simhash_adaptive_oracle(bits=48, max_hamming=6, margin=1) -> str:
    """Oracle twin of operators/dedup.simhash_adaptive_pairs: same
    vote/fingerprint CTEs as the fixed-width oracle, but the chunk
    plan (width/bands/mask) is computed FROM COUNT(*) inside the SQL —
    exact integer math (length(bin(n))), so both engines derive the
    identical width at every scale factor."""
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END" for b in range(bits)
    )
    u = bits // 48
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ), h AS (
      SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM tok
    ), votes AS (
      SELECT doc_id, {votes} FROM h GROUP BY doc_id
    ), fp AS (
      SELECT d.doc_id, CAST(COALESCE({fp}, 0) AS BIGINT) AS simhash
      FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id
    ), plan AS (
      SELECT width, {bits} // width AS bands,
             (CAST(1 AS BIGINT) << width) - 1 AS mask
      FROM (
        SELECT CASE WHEN need <= {8 * u} THEN {8 * u}
                    WHEN need <= {12 * u} THEN {12 * u}
                    WHEN need <= {16 * u} THEN {16 * u}
                    ELSE {24 * u} END AS width
        FROM (
          SELECT length(bin(COUNT(*))) + {margin} AS need FROM documents
        )
      )
    ), chunks AS (
      SELECT doc_id, simhash, gs.pos,
             (simhash >> (gs.pos * width)) & mask AS chunk
      FROM fp CROSS JOIN plan
      CROSS JOIN generate_series(0, {bits // 8 - 1}) gs(pos)
      WHERE gs.pos < bands
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, a.simhash AS fp_a,
                      b.doc_id AS id_b, b.simhash AS fp_b
      FROM chunks a JOIN chunks b
        ON a.pos = b.pos AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
    """


@query("dedup_simhash_adaptive", oracle=_simhash_adaptive_oracle())
def dedup_simhash_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the banded index's CHUNK WIDTH
    derived from the corpus size (operators/dedup.simhash_adaptive_
    pairs) — the width ~ log2(n) production rule the fixed-width
    query's docstring promises (Manku et al. WWW'07: constant expected
    bucket occupancy keeps candidate volume linear).  The width
    derivation is exact integer math (length(bin(COUNT(*)))) computed
    in-plan on BOTH engines — no driver count, no float log2 — so the
    oracle replays the plan choice, fingerprints, and popcount verify
    at every scale factor.  At r6's 10x probe scale the fixed 12-bit
    chunks saturated (3.2x wall); this rule widens to 16-bit chunks
    there, restoring constant occupancy."""
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents", spread=True)
    return D.simhash_adaptive_pairs(
        d, "doc_id", "text", bits=48, max_hamming=6
    )


@query("dedup_simhash_hamming", oracle=_simhash_hamming_oracle())
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash near-dup pairs within Hamming distance 6, via the
    4-chunk banded multi-index (operators/dedup.simhash_hamming_pairs
    — the Manku et al. web-dedup shape).  Guaranteed recall for
    distance <= 3 (pigeonhole over 4 chunks); the exact-bucket
    ``dedup_simhash`` query is the distance-0 special case of this
    operator.  Everything is md5-portable integers, so the oracle
    replays fingerprints, chunk index and popcount verify exactly.
    """
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents", spread=True)
    return D.simhash_hamming_pairs(
        d, "doc_id", "text", bits=48, bands=4, max_hamming=6
    )


@query(
    "dedup_levenshtein_pairs",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, substr(text, 1, 80) AS head,
        md5(array_to_string(({_TOKENS})[1:4], ' ')) AS bucket
      FROM documents WHERE len({_TOKENS}) >= 4
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(levenshtein(a.head, b.head) AS INT) AS edit_distance
    FROM keyed a JOIN keyed b
      ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 20
    """,
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup: candidates from a 4-token-prefix bucket
    equi-join (never all-pairs), verified by levenshtein on the first
    80 chars.  Both engines implement classic Levenshtein → exact."""
    d = table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    keyed = d.filter(F.size(toks) >= 4).select(
        "doc_id",
        F.substring("text", 1, 80).alias("head"),
        F.md5(F.array_join(F.slice(toks, 1, 4), " ")).alias("bucket"),
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("head").alias("head_a"),
        F.col("bucket").alias("bucket_a"),
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("head").alias("head_b"),
        F.col("bucket").alias("bucket_b"),
    )
    dist = F.levenshtein("head_a", "head_b")
    return (
        a.join(b, (F.col("bucket_a") == F.col("bucket_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", dist.cast("int").alias("edit_distance"))
        .filter(F.col("edit_distance") <= 20)
    )


@query(
    "dedup_prefix_ngram",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
        md5(array_to_string(({_TOKENS})[1:8], ' ')) AS prefix_key
      FROM documents
      WHERE len({_TOKENS}) >= 8
    )
    SELECT prefix_key, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
    FROM keyed GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dedup_prefix_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-ngram dedup (URL/boilerplate-style): docs sharing their
    first 8 tokens collapse to one representative."""
    d = table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    prefix_key = F.md5(F.array_join(F.slice(toks, 1, 8), " "))
    return (
        d.filter(F.size(toks) >= 8)
        .select("doc_id", prefix_key.alias("prefix_key"))
        .groupBy("prefix_key")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


_NGRAM_PAIRS_SQL = f"""
    WITH tokd AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ), shingled AS (
      SELECT doc_id, {_shingles_sql()} AS sh FROM tokd WHERE len(toks) >= 3
    ), rws AS (
      SELECT doc_id, unnest(sh) AS shingle FROM shingled
    ), hot AS (
      SELECT shingle FROM rws GROUP BY shingle HAVING COUNT(*) > 50
    ), capped AS (
      SELECT * FROM rws WHERE shingle NOT IN (SELECT shingle FROM hot)
    ), candidates AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
      CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
    FROM candidates c
    JOIN shingled sa ON c.id_a = sa.doc_id
    JOIN shingled sb ON c.id_b = sb.doc_id
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.2
    """


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=_NGRAM_PAIRS_SQL,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard dedup: inverted-index candidate generation
    (doc-frequency-capped shingle self-join — boilerplate shingles
    never join) + exact set Jaccard on the full shingle sets.  The
    exact tier above MinHash-LSH: same output contract, no hashing
    approximation in candidate recall except the df-cap.

    HOT-SHINGLE WARNING: the df-cap bounds posting lists but a shared
    token head still grows real in-band pairs quadratically (answer-
    bound — hot shingles MEAN more true candidates; BENCH_SF1_SKEW.md).
    Stays registered as the oracle-exact semantics; the production
    paths are dedup_prefix_filter_capped / dedup_containment_capped
    (posting caps bound the blowup, forfeit observable)."""
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents", spread=True)
    return D.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.2, max_doc_freq=50,
        eager=True,
    )


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_LSH_PAIRS_SQL}
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, CAST(least(a, MIN(b)) AS BIGINT) AS component,
           (a = CAST(least(a, MIN(b)) AS BIGINT)) AS is_canonical
    FROM reach GROUP BY a
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → cluster assignment: connected components by
    min-label propagation (operators/graph.py), then keep the minimum
    doc_id of each component as canonical.  The oracle computes the
    same closure with a recursive CTE — an independent algorithm
    (transitive closure) for the same semantics, affordable at gate
    scale where the pair graph is tiny."""
    from ..operators import dedup as D
    from ..operators.graph import canonical_assignment

    d = table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(
        d, "doc_id", "text",
        num_hashes=NUM_MINHASHES, bands=BANDS, rows_per_band=ROWS_PER_BAND,
        threshold=0.2,
    )
    return canonical_assignment(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component", "is_canonical"
    )


@query(
    "dedup_chunk_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), t -> t <> '') AS ts
      FROM documents
    ), chunks AS (
      SELECT doc_id,
        unnest(list_transform(
          range(0, CAST(floor((len(ts) - 1) / 24) AS BIGINT) + 1),
          k -> md5(array_to_string(
            ts[k * 24 + 1 : least(k * 24 + 32, len(ts))], ' '))
        )) AS chunk_md5
      FROM toks WHERE len(ts) > 0
    ), posting AS (
      SELECT chunk_md5, doc_id FROM chunks GROUP BY chunk_md5, doc_id
    ), rare AS (
      SELECT chunk_md5 FROM posting GROUP BY chunk_md5
      HAVING COUNT(*) BETWEEN 2 AND 50
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      COUNT(*) AS n_shared_chunks
    FROM posting a
    JOIN rare USING (chunk_md5)
    JOIN posting b ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-copy detection: pairs of documents sharing at least one
    identical 32-token window (stride 24) — the containment/overlap
    modality that whole-document MinHash misses (a paragraph pasted
    into an otherwise-different document never wins a full-doc Jaccard
    vote, but its windows hash identically).

    Scale shape: windows assemble per row (transform+slice, zero
    shuffle) and hash to one md5 each; the (chunk, doc) posting list
    dedups per doc, drops singleton and hot chunks (df-cap 50 — the
    boilerplate guard, same rule as the ngram inverted index), and the
    self-join runs per chunk bucket with bounded fan-out (≤ C(50,2)
    pairs per chunk).  Never all-pairs; candidates ∝ true shared
    windows.
    """
    from ..functions import text as T

    d = table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", T.tokens("text").alias("_toks")).filter(
        F.size("_toks") > 0
    )
    n = F.size("_toks")
    n_chunks = F.floor((n - 1) / 24).cast("bigint") + 1
    chunk_arr = F.transform(
        F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
        lambda k: F.md5(
            F.array_join(
                F.slice(
                    "_toks",
                    (k * 24 + 1).cast("int"),
                    F.least(F.lit(32), n - (k * 24).cast("int")).cast("int"),
                ),
                " ",
            )
        ),
    )
    # r13: the (chunk, doc) posting dedup is PER-DOCUMENT — per-row
    # array_distinct before the explode replaces the corpus-sized
    # groupBy(chunk, doc) exchange the historical shape paid.
    posting = toks.select(
        "doc_id", F.explode(F.array_distinct(chunk_arr)).alias("chunk_md5")
    )
    rare = (
        posting.groupBy("chunk_md5")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 50))
        .select("chunk_md5")
    )
    a = posting.join(rare, "chunk_md5")
    b = posting.select(
        F.col("chunk_md5"), F.col("doc_id").alias("doc_b")
    )
    return (
        a.join(b, "chunk_md5")
        .filter(F.col("doc_id") < F.col("doc_b"))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count("*").alias("n_shared_chunks"))
    )


# Span-removal constants: 16-token windows at stride 8, a span counts
# as "memorized boilerplate" when it appears in >= 2 distinct docs.
_SPAN_W = 16
_SPAN_S = 8
_SPAN_DF = 2


@query(
    "dedup_span_removal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS ts FROM documents
    ), wins AS (
      SELECT doc_id,
        unnest(list_transform(
          range(0, CAST(floor((len(ts) - {_SPAN_W}) / {_SPAN_S}) AS BIGINT) + 1),
          k -> struct_pack(
            start := k * {_SPAN_S},
            h := md5(array_to_string(
              ts[k * {_SPAN_S} + 1 : k * {_SPAN_S} + {_SPAN_W}], ' '))
          )
        ), recursive := true) AS w
      FROM toks WHERE len(ts) >= {_SPAN_W}
    ), hot AS (
      SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df
                     FROM wins GROUP BY h)
      WHERE df >= {_SPAN_DF}
    ), flagged AS (
      SELECT doc_id, start, start + {_SPAN_W} AS fin
      FROM wins JOIN hot USING (h)
    ), marked AS (
      SELECT doc_id, start, fin,
        CASE WHEN MAX(fin) OVER (PARTITION BY doc_id ORDER BY start, fin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= start
             THEN 0 ELSE 1 END AS is_new
      FROM flagged
    ), islands AS (
      SELECT doc_id, start, fin,
        SUM(is_new) OVER (PARTITION BY doc_id ORDER BY start, fin
          ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ), spans AS (
      SELECT doc_id, island, MIN(start) AS s, MAX(fin) AS e
      FROM islands GROUP BY doc_id, island
    )
    SELECT doc_id, COUNT(*) AS n_spans,
      CAST(SUM(e - s) AS BIGINT) AS tokens_cut,
      CAST(MIN(s) AS BIGINT) AS first_span_start
    FROM spans GROUP BY doc_id
    """,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup (the Lee et al. 2021 'Deduplicating Training
    Data' cut-list): find every 16-token window whose exact text
    recurs in >= 2 distinct documents, merge overlapping
    flagged windows per document into maximal spans, and report the
    per-document cut list (span count, tokens removed, first offset).
    Unlike whole-document dedup this removes the REPEATED PASSAGE while
    keeping the host document — the modality that shrinks memorization
    without dropping long-tail text.

    Scale shape: window assembly is transform+slice inside the scan
    (zero shuffle); the df count is one hash aggregation on the window
    digest (map-side combined); flagged windows join back on the digest
    (never all-pairs); span merging is a per-document window over only
    the FLAGGED rows (interval-island cumsum — rows per doc bounded by
    windows per doc, and only hot-window docs survive the semi-join).
    """
    d = table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", T.tokens("text").alias("ts")).filter(
        F.size("ts") >= _SPAN_W
    )
    n_wins = (
        F.floor((F.size("ts") - _SPAN_W) / _SPAN_S).cast("bigint") + 1
    )
    win_arr = F.transform(
        F.sequence(F.lit(0).cast("bigint"), n_wins - 1),
        lambda k: F.struct(
            (k * _SPAN_S).alias("start"),
            F.md5(
                F.array_join(
                    F.slice("ts", (k * _SPAN_S + 1).cast("int"), _SPAN_W),
                    " ",
                )
            ).alias("h"),
        ),
    )
    wins = toks.select("doc_id", F.explode(win_arr).alias("w")).select(
        "doc_id", F.col("w.start").alias("start"), F.col("w.h").alias("h")
    )
    hot = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _SPAN_DF)
        .select("h")
    )
    flagged = wins.join(hot, "h").select(
        "doc_id", "start", (F.col("start") + _SPAN_W).alias("fin")
    )
    w = Window.partitionBy("doc_id").orderBy("start", "fin")
    marked = flagged.select(
        "doc_id",
        "start",
        "fin",
        F.when(
            F.max("fin").over(w.rowsBetween(Window.unboundedPreceding, -1))
            >= F.col("start"),
            0,
        )
        .otherwise(1)
        .alias("is_new"),
    )
    islands = marked.select(
        "doc_id",
        "start",
        "fin",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("start").alias("s"), F.max("fin").alias("e")
    )
    return spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("tokens_cut"),
        F.min("s").alias("first_span_start"),
    )


@query(
    "curation_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_LSH_PAIRS_SQL}
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
      SELECT a AS doc_id, CAST(least(a, MIN(b)) AS BIGINT) AS component
      FROM reach GROUP BY a
    ), scored AS (
      SELECT d.doc_id,
        COALESCE(c.component, d.doc_id) AS component,
        CAST(len({_TOKENS}) AS INT) AS n_tokens
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, component, n_tokens, (rn = 1) AS keep FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY component ORDER BY n_tokens DESC, doc_id) AS rn
      FROM scored
    )
    """,
)
def curation_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: cluster near-duplicates
    (MinHash-LSH pairs → connected components) and keep the HIGHEST-
    QUALITY member of each cluster (longest document here; any
    deterministic score slots in) instead of the lowest-id one — the
    policy real pipelines want, completing quality → dedup → keep.
    Singleton documents are their own component and always kept.

    Scale shape: everything reuses existing shapes — LSH candidate
    generation (banded equi-join), log-round components, one window
    per component for the argmax.  The window's partition count equals
    the cluster count, so the keep step is as parallel as the data.
    """
    from ..functions import text as T
    from ..operators import dedup as D
    from ..operators.graph import connected_components
    from ..operators.reporting import keep_best_selection

    d = table(spark, sf_dir, "documents", spread=True)
    pairs = D.minhash_lsh_dedup(
        d, "doc_id", "text",
        num_hashes=NUM_MINHASHES, bands=BANDS, rows_per_band=ROWS_PER_BAND,
        threshold=0.2,
    )
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    scored = d.select(
        "doc_id", T.token_count("text").cast("int").alias("n_tokens")
    )
    # Derivation is the persist-and-derive operator: at 100 TB `comp`
    # would be a persisted component-bucketed scan paid for once
    # (operators/reporting docstring), not this inline recompute.
    return keep_best_selection(comp, scored, score_col="n_tokens")


def _triangle_oracle() -> str:
    from .registry import ORACLES

    lsh = ORACLES["dedup_minhash_lsh_pairs"]
    return f"""
    WITH pairs AS ({lsh}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1 JOIN e e2 ON e1.b = e2.a
      WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)
    ), nodes AS (
      SELECT unnest([a, b, c]) AS doc_id FROM tri
    )
    SELECT doc_id, COUNT(*) AS n_triangles
    FROM nodes GROUP BY doc_id
    """


@query("graph_triangle_count", oracle=_triangle_oracle())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the verified near-duplicate pair
    graph — the classic distributed-graph operator (cluster-density /
    community-cohesion signal: a doc in many triangles sits in a tight
    copy cluster, a bridge doc in none).  Composes the REGISTERED
    LSH-pairs operator, so the oracle replays the exact same edge set
    via the registered oracle string CTE-composed (the
    ``ann_recall_eval`` pattern).

    Algorithm: edges arrive canonically ordered (a < b from the dedup
    operator), so each triangle {{a<b<c}} is enumerated exactly once:
    wedge join (a,b)⋈(b,c) on the shared middle vertex, then a
    LEFT SEMI join closes the (a,c) side.  Per-node counts explode the
    3 corners into one hash agg.

    Scale shape: both joins are equi-joins on vertex keys; wedge
    fan-out is bounded by per-node degree, which the dedup candidate
    generator already caps (df-capped posting lists), so no quadratic
    blowup.  At true graph scale the standard refinement — orient
    edges by (degree, id) instead of raw id — bounds fan-out by
    max OUT-degree; with the dedup graph's capped degrees the id
    orientation is already within that bound.
    """
    from .registry import QUERIES

    e = QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    w = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    tri = w.join(
        e.select(F.col("a"), F.col("b").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
    )


# The eval's ground truth IS the registered exact query — one SQL
# definition, so threshold/cap/shingle tuning can never diverge.
_NGRAM_EXACT_SQL = (
    "SELECT id_a, id_b FROM (" + _NGRAM_PAIRS_SQL + ")"
)


@query(
    "dedup_lsh_eval",
    oracle=f"""
    WITH lshp AS ({_LSH_PAIRS_SQL}),
    exact AS ({_NGRAM_EXACT_SQL}),
    j AS (
      SELECT COALESCE(l.doc_a, e.id_a) AS a,
             (l.doc_a IS NOT NULL) AS in_lsh,
             (e.id_a IS NOT NULL) AS in_exact
      FROM lshp l
      FULL OUTER JOIN exact e ON l.doc_a = e.id_a AND l.doc_b = e.id_b
    )
    SELECT
      CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
      CAST(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      CAST(SUM(CASE WHEN in_lsh AND in_exact THEN 1 ELSE 0 END) AS BIGINT)
        AS n_both,
      CAST(SUM(CASE WHEN in_lsh AND NOT in_exact THEN 1 ELSE 0 END) AS BIGINT)
        AS lsh_only,
      CAST(SUM(CASE WHEN in_exact AND NOT in_lsh THEN 1 ELSE 0 END) AS BIGINT)
        AS exact_only,
      CAST(SUM(CASE WHEN in_lsh AND in_exact THEN 1 ELSE 0 END) AS DOUBLE)
        / SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS recall
    FROM j
    """,
)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation eval: MinHash-LSH banding vs the inverted-
    index exact-Jaccard ground truth, SAME 3-gram shingle space, same
    0.2 threshold.  Both sides exact-verify their candidates, so the
    gap is purely which pairs each GENERATOR surfaces: ``exact_only``
    = pairs the 4-band/3-row banding missed (its recall curve at
    J=0.2), ``lsh_only`` = pairs the inverted index's hot-shingle cap
    (>50 docs) dropped but banding kept.  The eval CTE-composes the
    two REGISTERED oracles, so the measurement itself is value-checked
    — the pattern ann_recall_eval established for ANN.

    At 100 TB this is the tuning loop for (bands, rows): rerun the
    eval on a sample, move the banding threshold until recall at the
    target Jaccard clears the bar.
    """
    lsh = QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("in_lsh")
    )
    exact = QUERIES["dedup_ngram_jaccard_pairs"](spark, sf_dir).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.lit(True).alias("in_exact"),
    )
    j = lsh.join(exact, ["doc_a", "doc_b"], "full").select(
        F.coalesce("in_lsh", F.lit(False)).alias("in_lsh"),
        F.coalesce("in_exact", F.lit(False)).alias("in_exact"),
    )
    both = F.sum((F.col("in_lsh") & F.col("in_exact")).cast("long"))
    n_exact = F.sum(F.col("in_exact").cast("long"))
    return j.agg(
        F.sum(F.col("in_lsh").cast("long")).alias("n_lsh"),
        n_exact.alias("n_exact"),
        both.alias("n_both"),
        F.sum((F.col("in_lsh") & ~F.col("in_exact")).cast("long")).alias(
            "lsh_only"
        ),
        F.sum((~F.col("in_lsh") & F.col("in_exact")).cast("long")).alias(
            "exact_only"
        ),
        (both.cast("double") / n_exact).alias("recall"),
    )


# Prefix-filter (PPJoin-style) exact Jaccard self-join threshold.
_PF_T = 0.9

_PF_SQL = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ), dfreq AS (
      SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
    ), per_doc AS (
      SELECT doc_id,
        list_transform(
          list_sort(list(struct_pack(df := df, tok := tok))),
          s -> s.tok) AS toks_ord
      FROM toks JOIN dfreq USING (tok) GROUP BY doc_id
    ), docs AS (
      SELECT doc_id, toks_ord, len(toks_ord) AS n,
        toks_ord[1 : CAST(len(toks_ord) - ceil({_PF_T} * len(toks_ord))
                          + 1 AS BIGINT)] AS prefix
      FROM per_doc
    ), posting AS (
      SELECT doc_id, n, unnest(prefix) AS tok FROM docs
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM posting a JOIN posting b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
       AND b.n * {_PF_T} <= a.n AND a.n * {_PF_T} <= b.n
    )
    SELECT c.id_a, c.id_b,
      CAST(len(list_intersect(x.toks_ord, y.toks_ord)) AS DOUBLE)
        / len(list_distinct(list_concat(x.toks_ord, y.toks_ord))) AS jaccard
    FROM cand c
    JOIN docs x ON c.id_a = x.doc_id
    JOIN docs y ON c.id_b = y.doc_id
    WHERE CAST(len(list_intersect(x.toks_ord, y.toks_ord)) AS DOUBLE)
        / len(list_distinct(list_concat(x.toks_ord, y.toks_ord))) >= {_PF_T}
    """


@query("dedup_prefix_filter_join", oracle=_PF_SQL)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT token-set Jaccard >= 0.9 pairs via prefix filtering
    (operators/dedup.prefix_filter_join — the PPJoin family): index
    only each document's rarest ``n - ceil(t*n) + 1`` tokens under a
    global df order; the prefix-filter lemma guarantees every
    qualifying pair collides, so unlike MinHash banding this is exact
    with NO false negatives, while still never going all-pairs.
    The guarantee test (tests/test_dedup_guarantees.py) checks it
    against brute-force on adversarial corpora.

    Threshold note: the synthetic corpus draws tokens from a tiny
    shared vocabulary, so its token-SET overlap is unrealistically
    dense (9k true pairs at t=0.9 in 500 docs; 92k at t=0.5) — the
    gate uses t=0.9 to keep the result bounded; on a real web corpus
    the same operator at t=0.5 is sparse.  Result size here is the
    TRUE answer's size, not candidate blowup: the prefix index itself
    stays sub-quadratic either way.
    """
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents")
    return D.prefix_filter_join(d, "doc_id", "text", threshold=_PF_T)


# Posting-df cap (percent of corpus) for the graceful-degradation
# variants of the answer-size-explosive joins: drop candidate-
# generation postings for tokens present in > _DF_CAP_PCT% of docs.
# Integer compare (100*df <= pct*ndocs) on both engines.  Measured at
# sf0.01 (DuckDB, this corpus): PPJoin posting 1401 -> 398 entries,
# pairs 9020 -> 7966 (88% recall); containment big-index 11695 -> 398
# postings (29x), pairs 22071 -> 14415 (65% recall).  The df
# distribution here is a cliff (31-token vocab, df ~388 +/- 15 of 500
# docs ~ 77.6% +/- 3), so 75 is the knee; real corpora have Zipfian df
# and degrade smoothly.
_DF_CAP_PCT = 75

# Per-token posting-length truncation (operators/dedup.prefix_filter_
# join posting_len_cap): bounds candidate volume at <= L^2 per token
# at ANY corpus size — the growth cap, composed with the df cap above.
# Not binding at the gate SFs (the df-capped postings total 398
# entries at sf0.01, so no single token's list reaches 500 and the
# composed result equals the df-cap-only one), binding at the 10x
# probe and beyond where lists grow ~linearly with the corpus.
_LEN_CAP = 500

_PF_CAPPED_SQL = _PF_SQL.replace(
    """), posting AS (
      SELECT doc_id, n, unnest(prefix) AS tok FROM docs
    ), cand AS (""",
    f"""), stats AS (
      SELECT COUNT(*) AS ndocs FROM docs
    ), posting AS (
      SELECT p.doc_id, p.n, p.tok
      FROM (SELECT doc_id, n, unnest(prefix) AS tok FROM docs) p
      JOIN dfreq USING (tok) CROSS JOIN stats
      WHERE 100 * df <= {_DF_CAP_PCT} * ndocs
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY p.tok ORDER BY p.n, p.doc_id) <= {_LEN_CAP}
    ), cand AS (""",
)
assert _PF_CAPPED_SQL != _PF_SQL


@query("dedup_prefix_filter_capped", oracle=_PF_CAPPED_SQL)
def dedup_prefix_filter_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_prefix_filter_join` with the per-token posting cap
    (df <= 75% of corpus) — the graceful-degradation mode for corpora
    where even prefix tokens are near-stopwords and the TRUE answer
    is quadratic.  Candidates still verify exact Jaccard, so output
    is a strict SUBSET of the exact join (no false positives; 88%
    recall at sf0.01 on this vocabulary-dense synthetic corpus —
    measured numbers at _DF_CAP_PCT above).  The cap is the same
    df-cap pattern text_sparse_cosine_pairs uses; the corpus count is
    an in-plan 1-row broadcast, so the plan stays fully declarative.
    Composed with the _LEN_CAP per-token posting truncation, which
    bounds candidate volume per token at L^2 at ANY scale (not
    binding at the gate SFs — identical results with or without it —
    binding at the 10x probe; see SCALE.md).
    """
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents", spread=True)
    return D.prefix_filter_join(
        d, "doc_id", "text", threshold=_PF_T,
        posting_df_cap_pct=_DF_CAP_PCT,
        posting_len_cap=_LEN_CAP,
        cap_stats_path=f"{sf_dir}/documents.parquet",
    )


# Containment threshold: fraction of the SMALLER doc's tokens that
# must appear in the larger one (quotation/subset detection).
_CONT_T = 0.97

_CONT_SQL = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ), dfreq AS (
      SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
    ), per_doc AS (
      SELECT doc_id,
        list_transform(
          list_sort(list(struct_pack(df := df, tok := tok))),
          s -> s.tok) AS toks_ord
      FROM toks JOIN dfreq USING (tok) GROUP BY doc_id
    ), docs AS (
      SELECT doc_id, toks_ord, len(toks_ord) AS n,
        toks_ord[1 : CAST(len(toks_ord) - ceil({_CONT_T} * len(toks_ord))
                          + 1 AS BIGINT)] AS prefix
      FROM per_doc
    ), small_posting AS (
      SELECT doc_id, n, unnest(prefix) AS tok FROM docs
    ), big_posting AS (
      SELECT doc_id, n, unnest(toks_ord) AS tok FROM docs
    ), cand AS (
      SELECT DISTINCT a.doc_id AS small_id, b.doc_id AS big_id
      FROM small_posting a JOIN big_posting b
        ON a.tok = b.tok AND a.doc_id <> b.doc_id
       AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
    )
    SELECT c.small_id, c.big_id,
      CAST(len(list_intersect(x.toks_ord, y.toks_ord)) AS DOUBLE)
        / x.n AS containment
    FROM cand c
    JOIN docs x ON c.small_id = x.doc_id
    JOIN docs y ON c.big_id = y.doc_id
    WHERE CAST(len(list_intersect(x.toks_ord, y.toks_ord)) AS DOUBLE)
        / x.n >= {_CONT_T}
    """


@query("dedup_containment_pairs", oracle=_CONT_SQL)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment join: pairs where >= 97% of the smaller
    document's distinct tokens appear in the larger one — the
    quotation/subset modality Jaccard misses entirely (a paragraph
    quoted inside a 10x-longer host has tiny Jaccard but containment
    ~1).  The prefix-filter lemma adapts: only the SMALLER side needs
    a prefix (its rarest n - ceil(t*n) + 1 tokens under the global df
    order must hit the larger side's full index when containment >= t),
    so the index is one full posting per doc plus a short probe prefix
    per doc — still never all-pairs.  Ties in size break by doc_id so
    every pair appears exactly once, directed small → big.

    Like the prefix-filter join, result size here reflects the
    synthetic corpus's tiny shared vocabulary (22k true containments
    at t=0.97 in 500 docs — full token-set containment is rampant when
    every doc samples the same small token pool); real corpora are
    sparse at this threshold.
    """
    return _containment_pairs(spark, sf_dir)


_CONT_CAPPED_SQL = _CONT_SQL.replace(
    """), small_posting AS (
      SELECT doc_id, n, unnest(prefix) AS tok FROM docs
    ), big_posting AS (
      SELECT doc_id, n, unnest(toks_ord) AS tok FROM docs
    ), cand AS (""",
    f"""), stats AS (
      SELECT COUNT(*) AS ndocs FROM docs
    ), small_posting AS (
      SELECT p.doc_id, p.n, p.tok
      FROM (SELECT doc_id, n, unnest(prefix) AS tok FROM docs) p
      JOIN dfreq USING (tok) CROSS JOIN stats
      WHERE 100 * df <= {_DF_CAP_PCT} * ndocs
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY p.tok ORDER BY p.n, p.doc_id) <= {_LEN_CAP}
    ), big_posting AS (
      SELECT p.doc_id, p.n, p.tok
      FROM (SELECT doc_id, n, unnest(toks_ord) AS tok FROM docs) p
      JOIN dfreq USING (tok) CROSS JOIN stats
      WHERE 100 * df <= {_DF_CAP_PCT} * ndocs
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY p.tok ORDER BY p.n, p.doc_id) <= {_LEN_CAP}
    ), cand AS (""",
)
assert _CONT_CAPPED_SQL != _CONT_SQL


@query("dedup_containment_capped", oracle=_CONT_CAPPED_SQL)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_containment_pairs` with the df <= 75%-of-corpus posting
    cap on BOTH the probe prefix and the big-side full index — the
    graceful-degradation mode for the containment join, whose big
    index is otherwise one posting per (doc, token) including
    stopwords (the 7.4x-at-10x answer-bound shape in SCALE.md r6).
    At sf0.01 the cap shrinks the big index 29x (11695 -> 398
    postings) and keeps 65% of the true pairs (22071 -> 14415);
    verification is still exact containment, so output is a strict
    SUBSET of the exact join.  See _DF_CAP_PCT for the measured
    trade-off and why 75 is the knee on this corpus; the _LEN_CAP
    posting truncation composes on top, bounding per-token candidate
    volume at any scale.
    """
    return _containment_pairs(
        spark, sf_dir, df_cap_pct=_DF_CAP_PCT, spread=True
    )


def _containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    df_cap_pct: int | None = None,
    spread: bool = False,
) -> DataFrame:
    # r13: (doc, tok) distinct is per-document — array_distinct before
    # the explode (no corpus-sized distinct Exchange).
    toks = table(spark, sf_dir, "documents", spread).select(
        "doc_id", F.explode(F.array_distinct(T.tokens("text"))).alias("tok")
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    per_doc = (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(struct(df, tok) as key, tok))), s -> s.tok)"
            ).alias("toks_ord")
        )
    )
    n = F.size("toks_ord")
    prefix_len = (n - F.ceil(F.lit(_CONT_T) * n) + 1).cast("int")
    docs = per_doc.select(
        "doc_id",
        "toks_ord",
        n.alias("n"),
        F.slice("toks_ord", 1, prefix_len).alias("prefix"),
    )
    # exact per-cap heat dispatch (r13, same contract as
    # prefix_filter_join): the shared memoized token-df statistic —
    # this tokenization is identical to the prefix-filter query's, so
    # ONE probe per dataset serves both families — proves per cap
    # whether it can bind; a provably-non-binding cap is skipped
    # (blocked set empty / truncation keeps every posting), a
    # possibly-binding one applied.  Output rows are unchanged either
    # way; the capped oracle agrees because its WHERE/QUALIFY keep
    # every row in the non-binding case too.  The probe runs BEFORE
    # the .cache() below registers docs (prefix_filter_join has the
    # full plan-determinism argument: probing through the cached frame
    # materialized it at build time on the first construction only,
    # flipping join strategies between probe-fresh and memo-hit plans).
    need_df_cap = need_len_cap = df_cap_pct is not None
    cand_parts = None
    if df_cap_pct is not None:
        from ..operators.dedup import token_df_stats
        from ..operators.stats import exchange_partitions

        ndocs_st, max_df, max_unblocked, _, est_pairs = token_df_stats(
            docs, df_cap_pct, f"{sf_dir}/documents.parquet", _LEN_CAP,
            probe_key=_CONT_T,
        )
        if 100 * max_df <= df_cap_pct * ndocs_st:
            need_df_cap = False
        if max_unblocked <= _LEN_CAP:
            need_len_cap = False
        # operator-level shuffle sizing from the same probe (r13):
        # the small×big candidate exchange is the CROSS estimate
        # Σ min(dfp, L)·min(df, L) (≈32 B/pair) — see
        # prefix_filter_join / token_df_stats
        cand_parts = exchange_partitions(spark, est_pairs * 32)
    docs = docs.cache()
    small = docs.select(
        F.col("doc_id"), "n", F.explode("prefix").alias("tok")
    )
    big = docs.select(
        F.col("doc_id"), "n", F.explode("toks_ord").alias("tok")
    )
    if cand_parts is not None:
        # the truncation windows and the candidate join reuse it
        small = small.repartition(cand_parts, "tok")
        big = big.repartition(cand_parts, "tok")
    if need_df_cap or need_len_cap:
        # Same in-plan df cap as prefix_filter_join's
        # posting_df_cap_pct, inverted into its cheap form: "keep
        # tokens with df <= pct% of corpus" == "drop the BLOCKED
        # (stopword) set", and the blocked set is provably tiny —
        # Σdf = total postings <= ndocs·max_doc_len, so at most
        # (100/pct)·max_doc_len tokens can each exceed pct%·ndocs,
        # a CORPUS-SIZE-INDEPENDENT bound.  Computing it once and
        # broadcast-anti-joining BOTH posting sides replaces the two
        # posting-sized shuffle joins against dfreq + two crossJoins
        # the earlier form paid (VERDICT r7 #3: these two queries'
        # 33-Exchange plans were the registry's widest partly from
        # this duplication); the single broadcast subtree is shared
        # by both consumers.
        from ..operators.dedup import blocked_tokens

        # df recomputed from the CACHED docs frame (toks_ord is each
        # doc's distinct token list, so exploding it and counting is
        # exactly dfreq) — the broadcast subtree reads the
        # InMemoryRelation instead of re-running the parquet-scan →
        # tokenize → distinct → groupBy chain.
        if need_df_cap:
            dfreq_c = (
                docs.select(F.explode("toks_ord").alias("tok"))
                .groupBy("tok")
                .agg(F.count("*").alias("df"))
            )
            blocked = F.broadcast(
                blocked_tokens(dfreq_c, docs, df_cap_pct)
            )

        from pyspark.sql import Window

        _w = Window.partitionBy("tok").orderBy("n", "doc_id")

        def _cap(p: DataFrame) -> DataFrame:
            if need_df_cap:
                p = p.join(blocked, "tok", "anti")
            if need_len_cap:
                p = (
                    p.withColumn("rn", F.row_number().over(_w))
                    .filter(F.col("rn") <= _LEN_CAP)
                    .drop("rn")
                )
            return p

        small, big = _cap(small), _cap(big)
    small = small.alias("a")
    big = big.alias("b")
    cand = (
        small.join(
            big,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (
                (F.col("a.n") < F.col("b.n"))
                | (
                    (F.col("a.n") == F.col("b.n"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            ),
        )
        .select(
            F.col("a.doc_id").alias("small_id"),
            F.col("b.doc_id").alias("big_id"),
        )
        .distinct()
    )
    x = docs.select(
        F.col("doc_id").alias("small_id"),
        F.col("toks_ord").alias("tx"),
        F.col("n").alias("nx"),
    )
    y = docs.select(
        F.col("doc_id").alias("big_id"), F.col("toks_ord").alias("ty")
    )
    from ..operators.dedup import intersect_size_expr

    contain = (
        intersect_size_expr("tx", "ty").cast("double") / F.col("nx")
    )
    return (
        cand.join(x, "small_id")
        .join(y, "big_id")
        .select("small_id", "big_id", contain.alias("containment"))
        .filter(F.col("containment") >= _CONT_T)
    )


def _cluster_hist_oracle() -> str:
    from .registry import ORACLES

    return f"""
    WITH comp AS ({ORACLES["dedup_connected_components"]}),
    sizes AS (
      SELECT component, COUNT(*) AS sz FROM comp GROUP BY component
    ), clustered AS (
      SELECT COUNT(*) AS n_clustered FROM comp
    ), total AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), hist AS (
      SELECT sz AS cluster_size, COUNT(*) AS n_clusters
      FROM sizes GROUP BY sz
      UNION ALL
      SELECT 1, n_docs - n_clustered FROM total, clustered
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
      CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
      CAST(SUM(n_clusters * cluster_size) AS BIGINT) AS n_docs
    FROM hist GROUP BY cluster_size
    """


@query("dedup_cluster_size_histogram", oracle=_cluster_hist_oracle())
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup story at a glance: the near-duplicate CLUSTER SIZE
    distribution (how many singletons, pairs, triples, …, and the doc
    mass in each bucket) — the number a curation run reports to decide
    whether dedup is worth its cost and whether keep-best is dropping
    1% or 30% of the corpus.  Composes the REGISTERED LSH-components
    operator on both engines; unclustered documents enter as size-1
    clusters so the doc mass always sums to the corpus.

    Scale shape: component sizes are a component-keyed aggregate over
    the components output; the histogram is a size-keyed aggregate
    (≤ log-ish distinct sizes); the singleton row is two 1-row counts.

    Production shape at 100 TB: the components pipeline is the COST —
    persist it ONCE (bucketed on ``component``,
    operators/bucketing.write_bucketed) and derive this histogram (and
    keep-best, and every other dedup report) from the persisted scan:
    operators/reporting.cluster_size_histogram accepts any components
    frame, and over a component-bucketed scan its component-keyed
    aggregate runs with zero Exchange (plan-asserted in
    tests/test_bucketing.py).  This gate query recomputes components
    inline only because the gate is one-shot.
    """
    from .registry import QUERIES
    from ..operators.reporting import cluster_size_histogram

    comp = QUERIES["dedup_connected_components"](spark, sf_dir).select(
        "doc_id", "component"
    )
    d = table(spark, sf_dir, "documents")
    return cluster_size_histogram(comp, d)


def _linkpred_oracle() -> str:
    from .registry import ORACLES

    lsh = ORACLES["dedup_minhash_lsh_pairs"]
    return f"""
    WITH pairs AS ({lsh}),
    adj AS (
      SELECT doc_a AS n, doc_b AS m FROM pairs
      UNION ALL
      SELECT doc_b AS n, doc_a AS m FROM pairs
    ), deg AS (
      SELECT n, COUNT(*) AS d FROM adj GROUP BY n
    ), cn AS (
      SELECT a1.m AS x, a2.m AS y, COUNT(*) AS common
      FROM adj a1 JOIN adj a2 ON a1.n = a2.n AND a1.m < a2.m
      GROUP BY 1, 2
    ), cand AS (
      SELECT cn.x, cn.y, cn.common, dx.d AS deg_x, dy.d AS deg_y,
        EXISTS (
          SELECT 1 FROM pairs p WHERE p.doc_a = cn.x AND p.doc_b = cn.y
        ) AS is_edge
      FROM cn JOIN deg dx ON cn.x = dx.n JOIN deg dy ON cn.y = dy.n
    )
    SELECT x AS doc_a, y AS doc_b, CAST(common AS BIGINT) AS n_common,
      CAST(common * 1000000 // (deg_x + deg_y - common) AS BIGINT)
        AS jaccard_ppm,
      is_edge
    FROM cand
    """


@query("graph_link_prediction_jaccard", oracle=_linkpred_oracle())
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the verified near-dup
    pair graph (Liben-Nowell & Kleinberg): every pair sharing ≥1
    common neighbor is scored |N(x)∩N(y)| / |N(x)∪N(y)| in exact
    integer ppm, tagged ``is_edge`` — the prediction set is the
    is_edge=false rows ("these two docs are probably near-dups the
    LSH bands missed", the recall-repair signal a dedup pipeline runs
    between full re-shingles), while the is_edge=true rows calibrate
    what score known edges carry.  (On a clique-y dedup graph the
    non-edge set can be legitimately empty — emitting both keeps the
    gate value-checking real arithmetic either way.)  Composes the
    REGISTERED LSH-pairs operator; the oracle replays the same edge
    set CTE-composed.

    Scale shape: wedge enumeration is the triangle query's equi-join
    on the shared middle vertex (fan-out bounded by the dedup
    generator's capped degrees); degrees are one node-keyed aggregate;
    the edge tag is a left semi-ish join against the (sparse) edge
    list.  No all-pairs stage anywhere.
    """
    from .registry import QUERIES

    # The edge list feeds the wedge join (twice via adj), the degree
    # aggregate, and the edge tag — cache it so LSH candidate
    # generation materializes once (measured 2.2s cached vs 3.4s not,
    # back-to-back at sf0.1).
    e = (
        QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .cache()
    )
    adj = e.select(F.col("a").alias("n"), F.col("b").alias("m")).unionAll(
        e.select(F.col("b").alias("n"), F.col("a").alias("m"))
    )
    deg = adj.groupBy("n").agg(F.count("*").alias("d"))
    cn = (
        adj.alias("a1")
        .join(adj.alias("a2"), F.col("a1.n") == F.col("a2.n"))
        .filter(F.col("a1.m") < F.col("a2.m"))
        .groupBy(F.col("a1.m").alias("x"), F.col("a2.m").alias("y"))
        .agg(F.count("*").alias("common"))
    )
    edge_flag = e.select(
        F.col("a").alias("x"), F.col("b").alias("y"),
        F.lit(True).alias("_edge"),
    )
    cand = (
        cn.join(edge_flag, ["x", "y"], "left")
        .join(deg.select(F.col("n").alias("x"), F.col("d").alias("deg_x")), "x")
        .join(deg.select(F.col("n").alias("y"), F.col("d").alias("deg_y")), "y")
    )
    return cand.select(
        F.col("x").alias("doc_a"),
        F.col("y").alias("doc_b"),
        F.col("common").cast("bigint").alias("n_common"),
        F.expr("CAST(common * 1000000 DIV (deg_x + deg_y - common) AS BIGINT)")
        .alias("jaccard_ppm"),
        F.coalesce("_edge", F.lit(False)).alias("is_edge"),
    )


@query(
    "dedup_url_canonical",
    oracle="""
    WITH built AS (
      SELECT c_custkey,
        (CASE WHEN c_custkey % 3 = 0 THEN 'HTTPS://Site' ELSE 'https://site'
         END) || CAST(c_custkey % 20 AS VARCHAR) || '.Example.com/item/'
        || CAST(c_custkey % 100 AS VARCHAR)
        || (CASE WHEN c_custkey % 4 = 0 THEN '/' ELSE '' END)
        || (CASE WHEN c_custkey % 2 = 0
            THEN '?utm_source=feed&utm_campaign=q' || CAST(c_custkey % 3 AS VARCHAR)
            ELSE '' END)
        || (CASE WHEN c_custkey % 2 = 0 AND c_custkey % 6 = 0
            THEN '&page=2' ELSE '' END)
        || (CASE WHEN c_custkey % 5 = 0 THEN '#frag' ELSE '' END) AS url
      FROM customer
    ), canon AS (
      SELECT c_custkey, url,
        regexp_replace(regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(lower(url), '#.*$', ''),
              '([?&])utm_[a-z_]+=[^&#]*', '\\1', 'g'),
            '([?&])&+', '\\1', 'g'),
        '[?&]+$', ''), '/$', '') AS canonical_url
      FROM built
    )
    SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_copies,
      CAST(MIN(c_custkey) AS BIGINT) AS canonical_key
    FROM canon GROUP BY canonical_url HAVING COUNT(*) > 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first pass of every web-corpus
    pipeline (CommonCrawl-style): lowercase, strip the #fragment,
    strip utm_* tracking params keeping their delimiter (then collapse
    the '?&&'-style runs the strip leaves), strip trailing '?'/'&' and
    '/', then exact-group on the canonical form and keep the minimum
    key.  URLs are synthesized from customer keys
    (the testdata carries no URL field) with every trap represented:
    mixed-case scheme+host, tracking params first and mid-query,
    fragments, trailing slashes — so the gate exercises true rewrite
    positions.  The regex subset (anchors, character classes) behaves
    identically in Java and RE2.

    Scale shape: canonicalization is a pure map expression chain
    (whole-stage codegen, zero Python); the only shuffle is the final
    exact-dedup hash aggregate on the canonical string.
    """
    c = table(spark, sf_dir, "customer")
    url = F.concat(
        F.when(F.col("c_custkey") % 3 == 0, F.lit("HTTPS://Site")).otherwise(
            F.lit("https://site")
        ),
        (F.col("c_custkey") % 20).cast("string"),
        F.lit(".Example.com/item/"),
        (F.col("c_custkey") % 100).cast("string"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("c_custkey") % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_campaign=q"),
                (F.col("c_custkey") % 3).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            (F.col("c_custkey") % 2 == 0) & (F.col("c_custkey") % 6 == 0),
            F.lit("&page=2"),
        ).otherwise(F.lit("")),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    from ..functions.text import canonicalize_url

    canonical = canonicalize_url(F.col("_url"))
    built = c.select(F.col("c_custkey"), url.alias("_url"))
    canon = built.select("c_custkey", canonical.alias("canonical_url"))
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.min("c_custkey").cast("bigint").alias("canonical_key"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _dup_rate_oracle() -> str:
    from .registry import ORACLES

    lsh = ORACLES["dedup_minhash_lsh_pairs"]
    return f"""
    WITH pairs AS ({lsh}),
    dup_docs AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION
      SELECT doc_b AS doc_id FROM pairs
    ), flagged AS (
      SELECT d.source, d.doc_id,
        CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
        len(list_filter(string_split_regex(COALESCE(d.text, ''), '\\s+'), t -> t <> ''))
          AS n_toks
      FROM documents d LEFT JOIN dup_docs dd ON d.doc_id = dd.doc_id
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
      CAST(SUM(is_dup) * 1000000 // COUNT(*) AS BIGINT) AS dup_doc_ppm,
      CAST(SUM(is_dup * n_toks) * 1000000 // GREATEST(SUM(n_toks), 1)
        AS BIGINT) AS dup_token_ppm
    FROM flagged GROUP BY source ORDER BY source
    """


@query("dedup_rate_by_source", oracle=_dup_rate_oracle())
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rate PER SOURCE — doc share and token-mass
    share of documents with ≥1 verified near-dup — the per-provenance
    dedup report that tells a mixture designer which source is
    paying for its weight in redundancy.  Composes the REGISTERED
    LSH-pairs operator; the oracle replays the same edge set.

    Scale shape: dup-doc ids are a union+distinct over the (sparse)
    pair list; the membership probe is a doc-keyed join (broadcastable
    — dup ids ≪ corpus); the report is one source-keyed aggregate.
    """
    from ..functions import text as T
    from .registry import QUERIES

    # Both endpoint projections consume the edge list — cache it so
    # LSH candidate generation materializes once (measured 1.8s cached
    # vs 2.5s not, back-to-back at sf0.1).
    pairs = QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).cache()
    d = table(spark, sf_dir, "documents", spread=True).select(
        "source", "doc_id", T.token_count("text").cast("long").alias("n_toks")
    )
    from ..operators.reporting import rate_by_source

    return rate_by_source(pairs, d)


def _modularity_oracle() -> str:
    from .registry import ORACLES

    lsh = ORACLES["dedup_minhash_lsh_pairs"]
    comp = ORACLES["dedup_connected_components"]
    return f"""
    WITH pairs AS ({lsh}),
    comp AS ({comp}),
    m AS (SELECT COUNT(*) AS m_edges FROM pairs),
    e_in AS (
      SELECT ca.component, COUNT(*) AS ec
      FROM pairs p
      JOIN comp ca ON p.doc_a = ca.doc_id
      JOIN comp cb ON p.doc_b = cb.doc_id AND ca.component = cb.component
      GROUP BY ca.component
    ), degs AS (
      SELECT c.component, COUNT(*) AS dc FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      ) d JOIN comp c ON d.doc_id = c.doc_id
      GROUP BY c.component
    ), per AS (
      SELECT dg.component,
        COALESCE(e.ec, 0) AS ec, dg.dc, mm.m_edges,
        4 * mm.m_edges * COALESCE(e.ec, 0) - dg.dc * dg.dc AS num_term
      FROM degs dg LEFT JOIN e_in e ON dg.component = e.component
      CROSS JOIN m mm
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
      CAST(MAX(m_edges) AS BIGINT) AS m_edges,
      CAST(SUM(ec) AS BIGINT) AS intra_edges,
      CAST(SUM(num_term) * 1000000 // (4 * MAX(m_edges) * MAX(m_edges))
        AS BIGINT) AS modularity_ppm
    FROM per
    """


@query("graph_components_modularity", oracle=_modularity_oracle())
def graph_components_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the connected-components partition over the
    near-dup pair graph — "how community-like are the dedup clusters?"
    (low modularity = the pair graph is one hairball and threshold
    tuning is due; high = clean well-separated copy clusters).
    Computed EXACTLY in integer ppm: Q = Σ_c (e_c/m − (d_c/2m)²)
    becomes Σ_c (4·m·e_c − d_c²) · 10⁶ // (4m²) — integer sums, one
    integer division, no float ever enters (float modularity can't be
    value-checked: sum order).  Composes the REGISTERED pairs AND
    components operators; the oracle replays both CTE-composed.

    Scale shape: intra-edge counts are two doc-keyed joins of the edge
    list against the components map (broadcastable — components of
    near-dup docs ≪ corpus); degrees are one aggregate; the final
    rollup is component-keyed then 1-row.
    """
    from .registry import QUERIES

    # The edge list feeds THREE consumers (intra-edge counts, degrees,
    # m) — cache it so the LSH candidate generation materializes once
    # (measured vs AQE-reuse-only back-to-back at sf0.1: 5.6s cached
    # vs 6.0s not; the gate harness clears the cache between queries).
    pairs = (
        QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir)
        .select("doc_a", "doc_b")
        .cache()
    )
    # components derived from the SAME cached pair frame (r13, guide
    # §2.4): invoking the registered dedup_connected_components here
    # re-ran the whole shingle→MinHash→LSH→verify pipeline a second
    # time inside this one query to reach the identical edge set
    # already cached above.  dedup_connected_components ==
    # canonical_assignment over exactly these pairs (its own
    # definition), and this consumer reads only (doc_id, component) —
    # the connected_components output — so the derivation is
    # value-identical by construction; the oracle CTE replays the
    # same composition.
    from ..operators.graph import connected_components
    from ..operators.reporting import components_modularity

    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    return components_modularity(pairs, comp)


_TUNE_CONFIGS = ((6, 2), (4, 3), (3, 4))  # (bands, rows) over 12 hashes


def _band_tuning_oracle() -> str:
    sig_cols = ", ".join(
        f"{_minhash_sql(i)} AS mh{i}" for i in range(NUM_MINHASHES)
    )
    band_ctes = []
    blocks = []
    for bands, rpb in _TUNE_CONFIGS:
        band_union = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            f"md5({' || chr(58) || '.join(f'mh{b * rpb + r}::VARCHAR' for r in range(rpb))}) AS band_key "
            f"FROM sigs"
            for b in range(bands)
        )
        # MATERIALIZED: each band CTE feeds both sides of its
        # self-join — without it DuckDB inlines the whole 12-minhash
        # signature computation 2x per config (measured 52s -> ~8s).
        band_ctes.append(f"bands_{bands}_{rpb} AS MATERIALIZED ({band_union})")
        blocks.append(f"""
    SELECT {bands} AS bands, {rpb} AS rows_per_band,
      CAST(COUNT(*) AS BIGINT) AS n_candidates,
      CAST(SUM(CASE WHEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.2
          THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
    FROM (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{bands}_{rpb} a JOIN bands_{bands}_{rpb} b
        ON a.band = b.band AND a.band_key = b.band_key
        AND a.doc_id < b.doc_id
    ) c
    JOIN sigs sa ON c.doc_a = sa.doc_id
    JOIN sigs sb ON c.doc_b = sb.doc_id""")
    body = " UNION ALL ".join(blocks)
    return f"""
    WITH tokd AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ), shingled AS (
      SELECT doc_id, {_shingles_sql()} AS sh FROM tokd WHERE len(toks) >= 3
    ), sigs AS MATERIALIZED (
      SELECT doc_id, sh, {sig_cols}
      FROM shingled WHERE len(sh) > 0
    ), {", ".join(band_ctes)}, per AS ({body})
    SELECT bands, rows_per_band, n_candidates, n_verified,
      CASE WHEN n_candidates = 0 THEN 0
           ELSE CAST(n_verified * 1000000 // n_candidates AS BIGINT)
      END AS precision_ppm
    FROM per ORDER BY bands DESC
    """


@query("dedup_band_tuning", oracle=_band_tuning_oracle())
def dedup_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash BANDING TUNING TABLE: candidate-pair count, verified
    count, and candidate precision (ppm) for three (bands, rows)
    splits of the SAME 12-hash signature — (6,2) loose, (4,3) the
    production config, (3,4) strict.  This is the table an operator
    reads before moving the S-curve: more bands = higher recall, more
    candidates to verify; the recall eval (dedup_lsh_recall_eval)
    gives the other axis.

    Scale shape: signatures are computed ONCE and cached (the per-row
    shingle+hash cost is the expensive part); each config adds only a
    band-key explode and a bucket equi-join whose candidate output is
    collision-sized.  Exactly how a production tuning sweep should run
    — never re-shingling per config.  r13: one MAP-ONLY fused
    (id, sh, mh*) frame (operators/dedup.fused_doc_frame) replaces
    the two separate shingle-row aggregations (signature min-agg +
    collect_set) — one cache, zero Exchanges to build it.
    """
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents", spread=True)
    per_doc = D.fused_doc_frame(d, "doc_id", "text", NUM_MINHASHES, 3)
    sigs = per_doc
    shs = per_doc.select("doc_id", "sh")
    # r13 measured note: a verify-once restructure (one shared
    # Jaccard map over the distinct union of all three configs'
    # candidates, per-config rollups equi-joined against it) was
    # tried and REVERTED — the extra cached candidate frames and the
    # union/distinct/join stages cost more at gate scale than the
    # ~2 redundant subset verifies they remove (interleaved min-of-2
    # A/B at sf0.1: 4.16 s original vs 5.35 s restructured).
    out = None
    for bands, rpb in _TUNE_CONFIGS:
        keyed = None
        for b in range(bands):
            part = sigs.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ":",
                        *[
                            F.col(f"mh{b * rpb + r}").cast("string")
                            for r in range(rpb)
                        ],
                    )
                ).alias("band_key"),
            )
            keyed = part if keyed is None else keyed.unionAll(part)
        a, bb = keyed.alias("a"), keyed.alias("b")
        cand = (
            a.join(
                bb,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        sa = shs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        sb = shs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        jac = D.jaccard_expr("sh_a", "sh_b")
        row = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .agg(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(rpb).cast("int").alias("rows_per_band"),
                F.count("*").cast("bigint").alias("n_candidates"),
                F.sum((jac >= 0.2).cast("long"))
                .cast("bigint")
                .alias("n_verified"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "bands",
        "rows_per_band",
        "n_candidates",
        F.coalesce("n_verified", F.lit(0)).cast("bigint").alias("n_verified"),
        F.when(F.col("n_candidates") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("CAST(n_verified * 1000000 DIV n_candidates AS BIGINT)"))
        .alias("precision_ppm"),
    ).orderBy(F.desc("bands"))


def _residual_oracle() -> str:
    from .registry import ORACLES

    return f"""
    WITH pairs AS ({ORACLES["dedup_minhash_lsh_pairs"]}),
    kb AS ({ORACLES["curation_keep_best"]}),
    kept AS (SELECT doc_id FROM kb WHERE keep),
    residual AS (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN kept ka ON p.doc_a = ka.doc_id
      JOIN kept kb2 ON p.doc_b = kb2.doc_id
    )
    SELECT
      CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_pairs,
      CAST((SELECT COUNT(*) FROM residual) AS BIGINT) AS n_residual_pairs,
      CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_docs_kept,
      CASE WHEN (SELECT COUNT(*) FROM pairs) = 0 THEN 0
           ELSE CAST((SELECT COUNT(*) FROM residual) * 1000000
                // (SELECT COUNT(*) FROM pairs) AS BIGINT)
      END AS residual_ppm
    """


@query("dedup_residual_audit", oracle=_residual_oracle())
def dedup_residual_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSE THE DEDUP LOOP: after keep-best selection, how many
    verified near-dup pairs SURVIVE among the kept documents?  Zero is
    the theoretical answer when clusters equal connected components
    (one keeper per component kills every intra-component pair) — this
    audit PROVES it on the actual output, and any nonzero residual
    means the clustering and the pair set drifted (wrong threshold,
    stale components, a bug).  The one-row report a production dedup
    run asserts on before shipping a corpus.

    Scale shape: two joins of the (sparse) pair list against the kept
    set, three 1-row counts — all candidate-shaped, nothing
    corpus-quadratic.
    """
    from .registry import QUERIES

    pairs = QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b"
    ).cache()
    # keep-best derived from the SAME cached pair frame (r13, guide
    # §2.4 "do fewer passes"): invoking the registered
    # curation_keep_best here re-ran the whole shingle→MinHash→LSH→
    # verify pipeline a second time inside this one query (~19 s of
    # executor task-time at sf0.1) only to reach the identical pair
    # set already cached above.  keep_best == keep_best_selection ∘
    # connected_components over exactly these pairs (that is the
    # registered query's own definition, queries/dedup.py
    # curation_keep_best), so deriving it from the cache is
    # value-identical by construction — the oracle CTE replays the
    # same composition.
    from ..functions import text as T
    from ..operators.graph import connected_components
    from ..operators.reporting import keep_best_selection, residual_audit

    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    scored = table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", T.token_count("text").cast("int").alias("n_tokens")
    )
    kept = (
        keep_best_selection(comp, scored, score_col="n_tokens")
        .filter("keep")
        .select("doc_id")
    )
    return residual_audit(pairs, kept)
