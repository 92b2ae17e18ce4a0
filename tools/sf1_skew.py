"""Zipf-skewed sf1 adversarial benchmark (VERDICT r9 #2).

The uniform sf1 replica (tools/sf1_bench.py) keeps per-key density
constant — it cannot exercise AQE skew splits, the salted operators,
or hot-key aggregate behavior end-to-end.  Real corpora are
Zipf-skewed, and skew is the #1 cause of 100 TB job death.  This tool
builds a SKEWED sf1 variant (same 10× volume, same schemas) and runs
the top dedup/graph/events headline queries on uniform-sf1 vs
skewed-sf1, recording per-query walls to BENCH_SF1_SKEW.md.

Skew injected (deterministic, xxhash64-keyed — reproducible):

- events: ~30 % of all events reassigned to ONE hot user_id
  (777_777) — user-keyed sessionize/funnel/retention windows get one
  partition holding a third of the table.
- documents: ~40 % of all docs reassigned to ONE hot source
  ('hotdomain.example') — source-keyed rollups get a hot group; AND a
  hot token-vocabulary head: ~10 % of all tokens are replaced by a
  10-token shared head with DOUBLING mass (`h9` alone ≈ 5 % of every
  token stream) — token/shingle-keyed aggregates and shingle-posting
  joins see Zipf postings, and head shingles collide ACROSS replicas
  (the uniform replica's per-replica suffixing forbids that by
  construction).  Head substitution is position-independent, so
  shingle-level hot keys appear at the rate head³ — hot enough to
  skew posting joins by orders of magnitude, bounded enough that
  answer-bound pair growth stays finite.
- embeddings: uniform shear (unchanged) — vector skew is not a
  shuffle-key property.
- relational tables: uniform replicas (schema completeness only).

Reading the numbers: wall_skew / wall_uniform ≈ 1× means the operator
is skew-immune (bucketed/capped/salted as designed); moderate growth
with a named answer-bound reason (hot keys REALLY mean more duplicate
pairs) is honest; >3× without such a reason is a skew bug — AQE
didn't split, or a key needs salting.

Usage: python tools/sf1_skew.py [--rebuild] [query ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "testdata_sf1")
SKEW = os.path.join(REPO, "testdata_sf1_skew")
REPLICAS = 10

HOT_USER = 777_777
HOT_SOURCE = "hotdomain.example"

# top-20 dedup/graph/events queries by sf1 wall (BENCH_SF1_FULL.json)
# + the three user-keyed events anchors the hot-user skew targets.
PROBES = [
    "dedup_semantic",
    "dedup_embedding_cosine",
    "graph_components_modularity",
    "dedup_prefix_filter_capped",
    "dedup_ngram_jaccard_pairs",
    "graph_link_prediction_jaccard",
    "dedup_simhash_hamming",
    "dedup_containment_capped",
    "dedup_cluster_size_histogram",
    "dedup_rate_by_source",
    "graph_wcc_components",
    "dedup_simhash_adaptive",
    "dedup_incremental_lsh",
    "dedup_minhash_lsh_pairs",
    "graph_pagerank",
    "graph_ppr_seeded",
    "events_attribution_capped",
    "graph_kcore_prune",
    "dedup_span_removal",
    "dedup_chunk_overlap",
    "events_sessionize",
    "events_funnel_conversion",
    "events_retention_cohorts",
]

# Hot keys genuinely change the ANSWER for these (more real duplicate
# pairs / heavier postings is what skewed data MEANS) — growth beyond
# wall-parity has a named reason, not a missing salting.
ANNOTATIONS = {
    "dedup_ngram_jaccard_pairs": "answer-bound: shared head shingles create REAL cross-replica candidate pairs the uniform corpus forbids by construction (uncapped by design; capped twin is the scale path)",
    "dedup_containment_capped": "posting caps bound the hot-shingle blowup — wall parity is the cap WORKING",
    "dedup_prefix_filter_capped": "posting caps bound the hot-shingle blowup — wall parity is the cap WORKING",
    "dedup_minhash_lsh_pairs": "answer-bound: head shingles collide across replicas, so more true candidates enter band buckets",
    "dedup_incremental_lsh": "answer-bound: same band-bucket growth as the batch LSH",
    "dedup_simhash_hamming": "answer-bound: head tokens pull simhashes together; more real near-dup pairs",
    "dedup_simhash_adaptive": "answer-bound: same simhash-proximity growth",
    "dedup_chunk_overlap": "answer-bound: shared head tokens create real cross-doc chunk collisions",
    "dedup_span_removal": "answer-bound: hot spans repeat across replicas",
    "graph_components_modularity": "consumes the LSH pair graph — inherits its answer-bound growth",
    "graph_wcc_components": "consumes the LSH pair graph — inherits its answer-bound growth",
    "dedup_cluster_size_histogram": "consumes components over the grown pair graph",
    "dedup_rate_by_source": "consumes the LSH pair list + a hot source group",
    "graph_link_prediction_jaccard": "neighborhood joins over the grown pair graph",
    "events_attribution_capped": "THE skew-proof twin: uncapped events_attribution_linear DIED here (hot user's O(hot^2) in-band pairs -> Java-heap OOM -> SparkContext shutdown); the rank-range cap bounds candidates at K per purchase regardless of key heat",
    "dedup_semantic": "cluster sizes unchanged (embedding skew not injected); expect parity",
    "dedup_embedding_cosine": "exact all-pairs by design; embedding skew not injected; expect parity",
}

# After timing, re-run these with the executed (post-AQE) plan captured
# and record whether AQE's skew-join split fired (`skew=true` in the
# SortMergeJoin node) and the hot keys observed.
PLAN_CHECK = [
    "events_sessionize",
    "dedup_ngram_jaccard_pairs",
    "dedup_rate_by_source",
]


def build_skewed(spark) -> None:
    from sec_edgar_spark import catalog
    from tools.scale_probe import build_relational_replicas

    os.makedirs(SKEW, exist_ok=True)
    t0 = time.time()

    # events: uniform key-offset replication, then 30 % of rows → the
    # hot user (selection keyed on the REPLICATED event_id so the hot
    # set spans all replicas evenly).
    ev = catalog.table(spark, BASE, "events")
    parts = []
    for k in range(REPLICAS):
        parts.append(
            ev.select(
                (F.col("event_id") + k * 10_000_000).alias("event_id"),
                "ts",
                (F.col("user_id") + k * 1_000_000).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u = u.withColumn(
        "user_id",
        F.when(
            F.pmod(F.xxhash64("event_id"), F.lit(100)) < 30,
            F.lit(HOT_USER).cast("long"),
        ).otherwise(F.col("user_id")),
    )
    u.coalesce(8).write.mode("overwrite").parquet(f"{SKEW}/events.parquet")

    # documents: per-replica token suffixing (as uniform) EXCEPT ~10 %
    # of tokens hit a 10-token shared head with doubling mass:
    # h = pmod(xxhash64(token), 10000); head iff h < 1000; rank
    # r = floor(log2(h+1)) ∈ [0,9] with bucket size 2^r — 'h9' alone
    # covers [512,1000) ≈ 4.9 % of ALL tokens, 'h8' ≈ 2.6 %, ... a
    # Zipf head shared across replicas.  40 % of docs → the hot source.
    doc = catalog.table(spark, BASE, "documents")
    parts = []
    for k in range(REPLICAS):

        # NOTE single-param on purpose: F.transform passes (element,
        # index) to any 2-param callable, so a k=k default would bind
        # the INDEX.  The lambda is evaluated eagerly inside this loop
        # iteration, so closing over k is safe.
        def skew_token(t):
            h = F.pmod(F.xxhash64(t), F.lit(10000))
            r = F.floor(F.log2(h + F.lit(1))).cast("int")
            return F.when(
                h < 1000, F.concat(F.lit("h"), r.cast("string"))
            ).otherwise(F.concat(t, F.lit(f"_{k}")))

        suffixed = F.array_join(
            F.transform(
                F.filter(F.split("text", r"\s+"), lambda t: t != ""),
                skew_token,
            ),
            " ",
        )
        parts.append(
            doc.select(
                (F.col("doc_id") + k * 1_000_000).alias("doc_id"),
                suffixed.alias("text"),
                "lang",
                "source",
                *[
                    c
                    for c in doc.columns
                    if c not in ("doc_id", "text", "lang", "source")
                ],
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u = u.withColumn(
        "source",
        F.when(
            F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 4, F.lit(HOT_SOURCE)
        ).otherwise(F.col("source")),
    )
    u.coalesce(8).write.mode("overwrite").parquet(f"{SKEW}/documents.parquet")

    # embeddings: the uniform shear (vector skew is not a shuffle-key
    # property); relational: uniform replicas for schema completeness.
    emb = catalog.table(spark, BASE, "embeddings")
    parts = []
    for k in range(REPLICAS):
        sheared = F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            + F.lit(float(k)) * 0.001 * (i.cast("double") + 1.0),
        )
        parts.append(
            emb.select(
                (F.col("vec_id") + k * 1_000_000).alias("vec_id"),
                sheared.cast("array<float>").alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.coalesce(8).write.mode("overwrite").parquet(f"{SKEW}/embeddings.parquet")

    build_relational_replicas(spark, base=BASE, out=SKEW, replicas=REPLICAS)
    print(f"skewed sf1 built in {time.time() - t0:.0f}s -> {SKEW}", flush=True)

    # print the realized skew so the doc records facts, not intent
    evn = spark.read.parquet(f"{SKEW}/events.parquet")
    tot = evn.count()
    hot = evn.filter(F.col("user_id") == HOT_USER).count()
    print(f"  hot user: {hot}/{tot} events = {100*hot/tot:.1f}%", flush=True)
    dn = spark.read.parquet(f"{SKEW}/documents.parquet")
    dtot = dn.count()
    dhot = dn.filter(F.col("source") == HOT_SOURCE).count()
    print(f"  hot source: {dhot}/{dtot} docs = {100*dhot/dtot:.1f}%", flush=True)
    toks = dn.select(
        F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias(
            "t"
        )
    )
    head = (
        toks.groupBy("t")
        .count()
        .orderBy(F.desc("count"))
        .limit(5)
        .collect()
    )
    ntok = toks.count()
    for r in head:
        print(
            f"  token head: {r['t']!r} = {100*r['count']/ntok:.2f}% of "
            f"{ntok} tokens",
            flush=True,
        )


def main() -> int:
    from sec_edgar_spark.session import get_spark
    import sec_edgar_spark.queries as Q

    probes = [a for a in sys.argv[1:] if not a.startswith("--")] or PROBES

    spark = get_spark(app_name="sf1-skew-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sec_edgar.longcents", "true")

    if not os.path.exists(os.path.join(SF1, "documents.parquet")):
        from tools.sf1_bench import build_sf1

        build_sf1(spark)
    if "--rebuild" in sys.argv or not os.path.exists(
        os.path.join(SKEW, "documents.parquet")
    ):
        build_skewed(spark)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    noop(spark.range(10000).mapInPandas(lambda it: it, "id long"))
    from sec_edgar_spark import catalog

    for t in catalog.TABLES:
        catalog.table(spark, SF1, t).count()
        catalog.table(spark, SKEW, t).count()

    qs = Q.queries()
    rows = []
    for name in probes:
        fn = qs[name]
        walls = {}
        for label, d in (("uniform", SF1), ("skew", SKEW)):
            best = float("inf")
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.time()
                noop(fn(spark, d))
                best = min(best, time.time() - t0)
            walls[label] = best
        factor = walls["skew"] / max(walls["uniform"], 1e-9)
        rows.append((name, walls["uniform"], walls["skew"], factor))
        print(
            f"{name:35s} {walls['uniform']:7.2f}s {walls['skew']:7.2f}s "
            f"{factor:5.1f}x",
            flush=True,
        )

    # AQE skew-split evidence on representative queries
    plan_notes = {}
    for name in PLAN_CHECK:
        if name not in qs:
            continue
        spark.catalog.clearCache()
        df = qs[name](spark, SKEW)
        noop(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan_notes[name] = (
            "AQE skew-split fired (skew=true in join)"
            if "skew=true" in plan
            else "no skew=true node (sizes below AQE's split threshold "
            "or shape is aggregate-only)"
        )
        print(f"plan {name}: {plan_notes[name]}", flush=True)

    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True,
        text=True,
        cwd=REPO,
    ).stdout.strip()
    tot_u = sum(r[1] for r in rows)
    tot_s = sum(r[2] for r in rows)
    lines = [
        "# BENCH_SF1_SKEW — Zipf-skew adversarial run at sf1",
        "",
        f"Skewed replica (tools/sf1_skew.py): hot user = 30% of events, "
        f"hot source = 40% of documents, shared Zipf token head ≈ 10% of "
        f"tokens ('h9' alone ≈ 5%), head shingles collide across "
        f"replicas.  Uniform replica = testdata_sf1.  "
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}], best-of-2, "
        f"noop sink, cache cleared per run, AQE + skewJoin enabled.  "
        f"git {sha}, loadavg {os.getloadavg()[0]:.1f}.",
        "",
        f"**Totals: {tot_u:.1f}s uniform → {tot_s:.1f}s skewed "
        f"({tot_s / max(tot_u, 1e-9):.2f}× across {len(rows)} queries).**",
        "",
        "| query | uniform sf1 | skewed sf1 | factor | note |",
        "|---|---|---|---|---|",
    ]
    for name, wu, ws, f in sorted(rows, key=lambda r: -r[3]):
        note = ANNOTATIONS.get(name, "")
        lines.append(f"| {name} | {wu:.2f}s | {ws:.2f}s | {f:.1f}x | {note} |")
    lines += ["", "## AQE skew-split evidence", ""]
    for name, note in plan_notes.items():
        lines.append(f"- `{name}`: {note}")
    with open(os.path.join(REPO, "BENCH_SF1_SKEW.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(REPO, "BENCH_SF1_SKEW.json"), "w") as fh:
        json.dump(
            {
                "git_sha": sha,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "queries": {
                    name: {"uniform": round(wu, 3), "skew": round(ws, 3)}
                    for name, wu, ws, _ in rows
                },
                "plan_notes": plan_notes,
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    print(f"-> BENCH_SF1_SKEW.md ({len(rows)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
