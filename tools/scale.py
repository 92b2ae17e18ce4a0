"""Scale legs: replica recipes, one timing loop, reports rendered from JSON.

A *dataset* (``DATASETS``) is a recipe over a base dataset:

- ``replicate`` makes ``copies`` disjoint copies.  Copy *k* offsets every
  key column by ``k × stride × KEY_OFFSETS[col]``, suffixes every
  document token with ``{suffix}{k}`` and shears every embedding by
  ``k × 0.001 × (i + 1)``.  Per-key density stays constant (new users,
  new documents, new vectors — not hotter ones) and no token or shingle
  collides across copies, so a copy is new data, not a duplicate whose
  true pair answer grows quadratically.  ``nation``/``region`` are
  fixed-cardinality dims and copy through once.
- ``skew`` moves 30 % of events to one hot user, 40 % of documents to
  one hot source, and maps ~10 % of tokens onto a shared ten-token head
  ``h0..h9`` with doubling mass (``h9`` ≈ 5 % of the stream), all keyed
  on ``xxhash64`` so the result is reproducible.  Tables it does not
  rewrite are symlinked to the source dataset.

A *leg* (``LEGS``) runs a query list over a tuple of datasets.  Each
(query, heap) pair runs in its own child JVM, so an OOM kills only its
own query and is recorded as died.  Per dataset the child runs one cold
run (first touch: plan-time probes, page cache) and then the leg's warm
passes, each in its own job group, and records the warm walls, task
time and spill (``tools/taskmetrics.GroupMetrics``) and whether AQE
split a skewed join in the plan that ran.  The leg's JSON goes to
``BENCH_<stem>.json``; ``BENCH_<stem>.md`` is rendered from that JSON
alone.

Usage:
  python tools/scale.py <leg> [--rebuild] [query ...]   # build, run, render
  python tools/scale.py --build <dataset> [--rebuild]
  python tools/scale.py --render <stem> [<stem> ...]    # re-render reports
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from sec_edgar_spark import catalog  # noqa: E402

HOT_USER = 777_777
HOT_SOURCE = "hotdomain.example"

# column -> per-copy key stride (disjoint across 10 copies of sf <= 1)
KEY_OFFSETS = {
    "event_id": 10_000_000,
    "user_id": 1_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
    "l_orderkey": 100_000_000,
    "l_partkey": 10_000_000,
    "l_suppkey": 1_000_000,
    "o_orderkey": 100_000_000,
    "o_custkey": 10_000_000,
    "c_custkey": 10_000_000,
    "s_suppkey": 1_000_000,
    "p_partkey": 10_000_000,
}
FIXED_DIMS = ("nation", "region")


@dataclass(frozen=True)
class Dataset:
    path: str
    base: str | None = None  # DATASETS label this recipe reads
    copies: int = 1  # 1: no replication, the recipe only skews
    stride: int = 1  # key-offset multiplier: clears the base's own copies
    tables: tuple[str, ...] = catalog.TABLES
    suffix: str = "_"  # token suffix stem; copy k appends f"{suffix}{k}"
    skew: bool = False
    # Pick head tokens on the unsuffixed base token, during replication,
    # so all copies of a document share their head positions.
    head_on_base: bool = False
    # Output files per table (key "*" = default).  The file count sets
    # the scan task count, so it is part of the recipe.
    files: dict = field(default_factory=lambda: {"*": 8, "nation": 1, "region": 1})


def _repo(name: str) -> str:
    return os.path.join(REPO, name)


DATASETS: dict[str, Dataset] = {
    "sf0.1": Dataset(catalog.DEFAULT_SF_DIR),
    "sf1": Dataset(_repo("testdata_sf1"), "sf0.1", copies=10),
    "sf10": Dataset(_repo("testdata_sf10"), "sf1", copies=10, stride=10),
    "sf100": Dataset(
        _repo("testdata_sf100"),
        "sf10",
        copies=10,
        stride=100,
        tables=("documents", "part", "events", "orders", "lineitem"),
        suffix="_d",
        files={"*": 16, "documents": 32, "lineitem": 64},
    ),
    "sf1_skew": Dataset(
        _repo("testdata_sf1_skew"), "sf0.1", copies=10, skew=True, head_on_base=True
    ),
    "sf10_skew": Dataset(
        _repo("testdata_sf10_skew"),
        "sf10",
        tables=("events", "documents"),
        skew=True,
        files={"*": 16},
    ),
    "sf100_skew": Dataset(
        _repo("testdata_sf100_skew"),
        "sf100",
        tables=("events",),
        skew=True,
        files={"*": 32},
    ),
}


def _tokens(text, suffix: str | None, head: bool):
    from pyspark.sql import functions as F

    # Single-parameter lambda on purpose: F.transform passes (element,
    # index) to a two-parameter callable.
    def one(t):
        out = F.concat(t, F.lit(suffix)) if suffix else t
        if head:
            # h = pmod(xxhash64(t), 10000); head iff h < 1000; rank
            # floor(log2(h + 1)) in [0, 9] owns a bucket of 2^rank
            h = F.pmod(F.xxhash64(t), F.lit(10000))
            rank = F.floor(F.log2(h + F.lit(1))).cast("int")
            out = F.when(h < 1000, F.concat(F.lit("h"), rank.cast("string"))).otherwise(out)
        return out

    words = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    return F.array_join(F.transform(words, one), " ")


def _copy(df, table: str, k: int, d: Dataset):
    from pyspark.sql import functions as F

    def col(c):
        if c in KEY_OFFSETS:
            return (F.col(c) + k * d.stride * KEY_OFFSETS[c]).alias(c)
        if table == "documents" and c == "text":
            head = d.skew and d.head_on_base
            return _tokens(F.col(c), f"{d.suffix}{k}", head).alias(c)
        if table == "embeddings" and c == "embedding":
            sheared = F.transform(
                F.col(c).cast("array<double>"),
                lambda x, i: x + F.lit(float(k)) * 0.001 * (i.cast("double") + 1.0),
            )
            return sheared.cast("array<float>").alias(c)
        return F.col(c)

    return df.select(*[col(c) for c in df.columns])


def _skewed(df, table: str, head: bool):
    from pyspark.sql import functions as F

    if table == "events":
        hot = F.pmod(F.xxhash64("event_id"), F.lit(100)) < 30
        return df.withColumn(
            "user_id", F.when(hot, F.lit(HOT_USER).cast("long")).otherwise(F.col("user_id"))
        )
    if table == "documents":
        if head:
            df = df.withColumn("text", _tokens(F.col("text"), None, True))
        hot = F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 4
        return df.withColumn(
            "source", F.when(hot, F.lit(HOT_SOURCE)).otherwise(F.col("source"))
        )
    return df


def materialize(spark, d: Dataset, src: str, tables=None) -> None:
    """Write ``tables`` (default: all) of dataset ``d`` from the dataset
    at ``src``."""
    os.makedirs(d.path, exist_ok=True)
    for t in tables or d.tables:
        df = catalog.table(spark, src, t)
        if d.copies > 1 and t not in FIXED_DIMS:
            copies = [_copy(df, t, k, d) for k in range(d.copies)]
            df = copies[0]
            for c in copies[1:]:
                df = df.unionByName(c)
        if d.skew:
            df = _skewed(df, t, head=not d.head_on_base)
        n = d.files.get(t, d.files["*"])
        # coalesce keeps a replica's copy order; a skew-only rewrite of
        # an already-coalesced dataset needs repartition to reach n
        df = df.coalesce(n) if d.copies > 1 else df.repartition(n)
        df.write.mode("overwrite").parquet(f"{d.path}/{t}.parquet")
    if d.copies == 1:
        # Relative links: the dataset still resolves when the tree that
        # holds it and its source is moved or checked out elsewhere.
        for t in catalog.TABLES:
            dst, target = f"{d.path}/{t}.parquet", f"{src}/{t}.parquet"
            if not os.path.lexists(dst) and os.path.exists(target):
                os.symlink(os.path.relpath(target, d.path), dst)


def replicate(spark, base: str, out: str, copies: int, stride: int = 1,
              tables=catalog.TABLES, **recipe) -> None:
    materialize(spark, Dataset(out, copies=copies, stride=stride, tables=tables, **recipe), base)


def skew(spark, src: str, out: str, tables=("events", "documents"), **recipe) -> None:
    recipe.setdefault("files", {"*": 16})
    materialize(spark, Dataset(out, tables=tables, skew=True, **recipe), src)


def build(spark, label: str, datasets=None, rebuild: bool = False) -> None:
    """Build ``label`` and, first, any missing dataset it derives from."""
    datasets = datasets or DATASETS
    d = datasets[label]
    todo = [t for t in d.tables if rebuild or not os.path.exists(f"{d.path}/{t}.parquet")]
    if d.base is None or not todo:
        return
    build(spark, d.base, datasets)
    print(f"building {label} {', '.join(todo)} from {d.base} ...", flush=True)
    t0 = time.time()
    materialize(spark, d, datasets[d.base].path, todo)
    print(f"built {label} in {time.time() - t0:.0f}s -> {d.path}", flush=True)


# --------------------------------------------------------------------------
# Legs


def _label(dataset: str, mem: str | None, jvms) -> str:
    """A result column: the dataset, or "<dataset>@<memory>" when the leg
    runs more than one JVM shape."""
    return f"{dataset}@{mem}" if len(jvms) > 1 else dataset


@dataclass(frozen=True)
class Leg:
    title: str
    stem: str  # report: BENCH_<stem>.json / .md
    datasets: tuple[str, ...]
    queries: tuple[str, ...]
    factors: tuple[tuple[str, str], ...]  # (numerator, denominator) columns
    warm: int = 2
    # (driver memory, cores) per child JVM; None keeps the environment's
    # SPARK_GRAFT_DRIVER_MEM / SPARK_GRAFT_CPUS.  More than one entry
    # labels columns "<dataset>@<memory>".
    jvms: tuple[tuple[str | None, int | None], ...] = ((None, None),)
    notes: dict = field(default_factory=dict)
    only: dict = field(default_factory=dict)  # dataset -> queries run there


_SF1_NOTES = {
    "dedup_embedding_cosine": "exact all-pairs BY DESIGN (SCALE.md): compute grows ~100x at 10x corpus — wall well under that is the Arrow scorer's win; the scale path is the LSH/IVF family",
    "er_match_score": "answer-bound: blocked candidate pairs grow superlinearly on replicated names (same corpus property as er_entity_groups)",
    "dedup_semantic": "trained clusters re-fit on the 10x corpus; within-cluster pair scoring grows with cluster mass — sublinear vs the pair count",
    "er_entity_groups": "answer-bound: true match count grows superlinearly on replicated names (SCALE.md r8 probe: 186x answer, 5-6x wall)",
    "dedup_cluster_size_histogram": "recomputes full components inline by gate design; production persists components once (operators/reporting.py)",
    "agg_selfjoin_size_estimate": "CMS build is corpus-linear; md5 hash family is the portability tax",
    "multimodal_audio_energy": "per-row synthesis+decode IS the workload (map-only); expect ~linear",
    "multimodal_image_tile_luminance": "per-row synthesis+decode IS the workload (map-only); expect ~linear",
}

_SF1_TOP = (
    "dedup_cluster_size_histogram", "agg_bootstrap_ci", "ann_pq_adc_topk",
    "curation_keep_best", "curation_export_shards", "agg_selfjoin_size_estimate",
    "text_trigram_search", "er_entity_groups", "graph_wcc_components",
    "dedup_containment_capped", "dedup_prefix_filter_capped",
    "dedup_simhash_adaptive", "dedup_simhash_hamming", "multimodal_audio_energy",
    "dedup_incremental_lsh", "curation_cluster_balanced_sample",
    "curation_token_budget_select", "audit_quality_length_bias",
    "curation_dsir_select", "agg_trimmed_mean", "curation_contamination_report",
    "agg_weighted_percentiles", "text_bigram_surprisal", "graph_ppr_seeded",
    "ann_lsh_multiprobe_topk",
    # one canonical anchor per family
    "q1_pricing_summary", "q9_product_profit", "dedup_minhash_lsh_pairs",
    "ann_bruteforce_topk", "events_sessionize", "text_bm25_search", "graph_pagerank",
)

_EVENT_PROBES = (
    "events_sessionize", "events_asof_join", "events_attribution_capped",
    "events_funnel_conversion", "events_markov_transitions",
)

_CAPPED = ("dedup_prefix_filter_capped", "dedup_containment_capped", "er_match_score_capped")


LEGS: dict[str, Leg] = {
    "scale_probe": Leg(
        "10× probe of selected operators (sf0.1 → sf1)",
        "SCALE_PROBE",
        ("sf0.1", "sf1"),
        (
            "events_funnel_conversion", "events_retention_cohorts",
            "text_repetition_filter", "curation_domain_mix",
            "curation_chunk_windows", "dedup_chunk_overlap", "dedup_embedding_cosine",
        ),
        factors=(("sf1", "sf0.1"),),
        notes=_SF1_NOTES,
    ),
    "sf1": Leg(
        "headline validation at sf1 (10× bench scale)",
        "SF1",
        ("sf0.1", "sf1"),
        _SF1_TOP,
        factors=(("sf1", "sf0.1"),),
        notes=_SF1_NOTES,
    ),
    "sf1_full": Leg(
        "the whole headline battery at sf1 (10× bench scale)",
        "SF1_FULL",
        ("sf0.1", "sf1"),
        tuple(bench.HEADLINE),
        factors=(("sf1", "sf0.1"),),
        notes=_SF1_NOTES,
    ),
    "sf10": Leg(
        "second-decade validation (sf0.1 → sf1 → sf10)",
        "SF10",
        ("sf0.1", "sf1", "sf10"),
        (
            "graph_components_modularity", "dedup_prefix_filter_capped",
            "dedup_ngram_jaccard_pairs", "curation_funnel_report",
            "text_trigram_search", "graph_link_prediction_jaccard",
            "dedup_simhash_hamming", "dedup_containment_capped",
            "multimodal_image_dedup_tiles", "agg_bootstrap_ci",
            "dedup_cluster_size_histogram", "agg_selfjoin_size_estimate",
            "curation_keep_best", "er_match_score_capped",
        ),
        factors=(("sf1", "sf0.1"), ("sf10", "sf1")),
        warm=1,
        notes={
            "dedup_ngram_jaccard_pairs": "uncapped posting join (capped twin is the scale path); replicas are collision-free so pairs stay linear here",
            "multimodal_image_dedup_tiles": "per-row synthesize+decode is the workload (map-only); expect ~linear",
            "agg_selfjoin_size_estimate": "CMS build is corpus-linear",
            "er_match_score_capped": "THE cap claim: per-block candidate caps must hold the second decade too",
            "text_trigram_search": "sf10 < sf1 when AQE prunes the join on an empty needle side (SCALE.md)",
        },
    ),
    "sf100": Leg(
        "the posting-cap family at the third decade",
        "SF100",
        ("sf10", "sf100"),
        _CAPPED,
        factors=(("sf100", "sf10"),),
        notes={
            "dedup_prefix_filter_capped": "PPJoin posting cap: candidate work bounded per posting list; the heaviest query in the repo",
            "dedup_containment_capped": "containment posting cap — same family",
            "er_match_score_capped": "ER block cap: blocks above _BLOCK_CAP dropped before the pair join (fixed blocking vocabulary → blocks are 10× hotter per decade; the cap must bind harder, not slower)",
        },
    ),
    "sf100_families": Leg(
        "event windows and iterative graph at the third decade",
        "SF100_FAMILIES",
        ("sf10", "sf100", "sf10_skew", "sf100_skew"),
        _EVENT_PROBES
        + ("graph_wcc_components", "graph_label_propagation", "graph_components_modularity"),
        factors=(("sf100", "sf10"), ("sf100_skew", "sf10_skew")),
        warm=1,
        only={"sf10_skew": _EVENT_PROBES, "sf100_skew": _EVENT_PROBES},
        notes={
            "events_sessionize": "heat-dispatched gap sessionize: plain on uniform, salted (user, 6h-bucket) on skew",
            "events_asof_join": "heat-dispatched as-of: plain window vs salted bucket+carry",
            "events_attribution_capped": "capped lookback join + salted rank/as-of inside",
            "events_funnel_conversion": "salted suffix-min when hot",
            "events_markov_transitions": "salted lag when hot (the biggest salt-tax pin delta)",
            "graph_wcc_components": "large-star/small-star contraction to fixpoint — per-round shuffle shrinks with the working set",
            "graph_label_propagation": "3 synchronous LPA rounds — per-round shuffle is |E| both decades",
            "graph_components_modularity": "MinHash->LSH->components->modularity composition over documents (the heaviest composed graph query)",
        },
    ),
    "sf1_skew": Leg(
        "Zipf-skew adversarial run at sf1",
        "SF1_SKEW",
        ("sf1", "sf1_skew"),
        (
            "dedup_semantic", "dedup_embedding_cosine", "graph_components_modularity",
            "dedup_prefix_filter_capped", "dedup_ngram_jaccard_pairs",
            "graph_link_prediction_jaccard", "dedup_simhash_hamming",
            "dedup_containment_capped", "dedup_cluster_size_histogram",
            "dedup_rate_by_source", "graph_wcc_components", "dedup_simhash_adaptive",
            "dedup_incremental_lsh", "dedup_minhash_lsh_pairs", "graph_pagerank",
            "graph_ppr_seeded", "events_attribution_capped", "graph_kcore_prune",
            "dedup_span_removal", "dedup_chunk_overlap", "events_sessionize",
            "events_funnel_conversion", "events_retention_cohorts",
        ),
        factors=(("sf1_skew", "sf1"),),
        notes={
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
        },
    ),
    "sf10_skew": Leg(
        "the skew fixes at the second decade",
        "SF10_SKEW",
        ("sf10", "sf10_skew"),
        (
            "events_attribution_capped", "events_sessionize_salted", "events_sessionize",
            "events_asof_join", "events_funnel_conversion", "events_markov_transitions",
            "window_moving_avg_salted", "events_session_entry_exit",
        )
        + _CAPPED,
        factors=(("sf10_skew", "sf10"),),
        warm=1,
        notes={
            "events_attribution_capped": "r10 cap + r11 salted rank/as-of, r12 heat-dispatched: candidates ≤ K per purchase; probe picks salted on skew, plain on uniform",
            "events_sessionize_salted": "FORCED-salted demonstrator: hot user spreads over (user, 6h-bucket) cells at both dirs",
            "events_sessionize": "CONTRAST ROW — oracle-exact single window: one task owns the hot user's 3M events (the documented straggler; production twin dispatches by heat)",
            "events_asof_join": "r11 salted as-of, r12 heat-dispatched: probe picks salted (per-(user, bucket) + carry) on skew, plain on uniform",
            "events_funnel_conversion": "r11 salted suffix-min, r12 heat-dispatched: probe picks salted on skew, plain on uniform (the r10 'salting candidate' note is closed)",
            "events_markov_transitions": "r11 salted lag, r12 heat-dispatched (the biggest salt-tax pin delta: 5->9 Exchanges when salted)",
            "window_moving_avg_salted": "FORCED-salted demonstrator: rank-block ROWS frames — no task owns more than block_rows + W - 1 rows of the hot user",
            "events_session_entry_exit": "r11 salted entry/exit struct-extrema, r12 heat-dispatched",
            "dedup_prefix_filter_capped": "posting caps must bind at second-decade posting heat",
            "dedup_containment_capped": "posting caps must bind at second-decade posting heat",
            "er_match_score_capped": "block cap on the sf10 fixed-vocabulary blocks (relational tables identical in both dirs — parity expected)",
        },
    ),
    "lowmem": Leg(
        "spill or die at 1/8th the heap",
        "LOWMEM",
        ("sf1",),
        (
            "dedup_minhash_lsh_pairs", "dedup_residual_audit", "curation_funnel_report",
            "graph_components_modularity", "curation_keep_best",
            "dedup_cluster_size_histogram", "agg_bootstrap_ci", "er_entity_groups",
            "curation_export_shards", "dedup_simhash_hamming",
            "events_sessionize_salted", "window_moving_avg_salted",
        ),
        factors=(("sf1@2g", "sf1@16g"),),
        warm=1,
        # A 2 GB executor runs ~4-8 cores in production; 32 slots on
        # 2 GB would measure 32 concurrent hash-build/sort states.
        jvms=(("16g", None), ("2g", 16)),
    ),
}


# --------------------------------------------------------------------------
# The timing loop


def _child(spec: dict) -> None:
    """One query in this JVM: per column one cold run, then warm passes.
    Prints one ``RESULT`` line per finished column."""
    from sec_edgar_spark.session import builder
    import sec_edgar_spark.queries as Q
    from tools.taskmetrics import GroupMetrics

    fn = Q.queries()[spec["query"]]
    spark = (
        builder(app_name=f"scale-{spec['query']}")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    gm = GroupMetrics(spark)

    def timed(gid: str, df_fn) -> float:
        spark.catalog.clearCache()
        sc.setJobGroup(gid, gid)
        t0 = time.perf_counter()
        df_fn().write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        sc.setJobGroup("", "")
        return wall

    # Python workers and codegen, not any dataset's first touch
    timed("warmup", lambda: spark.range(10000).mapInPandas(lambda it: it, "id long"))
    for label, path in spec["columns"]:
        rec = {"cold_s": round(timed(f"{label}:cold", lambda: fn(spark, path)), 3)}
        walls = [
            round(timed(f"{label}:warm{i}", lambda: fn(spark, path)), 3)
            for i in range(spec["warm"])
        ]
        best = f"{label}:warm{walls.index(min(walls))}"
        gm.drain()
        stages = gm.stage_profile(best, top=10_000)
        rec.update(
            walls_s=walls,
            wall_s=min(walls),
            task_s=gm.task_time_s(best),
            spill_mem_mb=round(sum(s["mem_spill_mb"] for s in stages), 1) if stages else None,
            spill_disk_mb=round(sum(s["spill_mb"] for s in stages), 1) if stages else None,
            skew_split=gm.skew_join_split(best),
        )
        print("RESULT " + json.dumps({"column": label, **rec}), flush=True)


def _git_sha() -> str | None:
    r = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True, cwd=REPO
    )
    return r.stdout.strip() or None


def run_leg(name: str, leg: Leg, datasets=None, out_dir: str = REPO, queries=None) -> dict:
    """Run every (query, JVM) child of ``leg``, write BENCH_<stem>.json
    into ``out_dir`` and render BENCH_<stem>.md from it."""
    datasets = datasets or DATASETS
    queries = list(queries or leg.queries)
    results: dict[str, dict] = {}
    for q in queries:
        for mem, cores in leg.jvms:
            cols = [
                (_label(ds, mem, leg.jvms), datasets[ds].path)
                for ds in leg.datasets
                if q in leg.only.get(ds, (q,))
            ]
            env = dict(os.environ)
            if mem:
                env["SPARK_GRAFT_DRIVER_MEM"] = mem
            if cores:
                env["SPARK_GRAFT_CPUS"] = str(cores)
            spec = {"query": q, "columns": cols, "warm": leg.warm}
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", json.dumps(spec)],
                cwd=REPO, env=env, capture_output=True, text=True,
            )
            got = results.setdefault(q, {})
            for line in proc.stdout.splitlines():
                if line.startswith("RESULT "):
                    rec = json.loads(line[7:])
                    got[rec.pop("column")] = rec
            for label, _ in cols:
                if label not in got:
                    tail = " ".join((proc.stderr or "").split()[-40:])
                    got[label] = {"died": f"rc={proc.returncode} {tail}"}
            print(q, json.dumps({c: got[c].get("wall_s", "died") for c, _ in cols}), flush=True)

    used = set(leg.datasets)
    report = {
        "leg": {"name": name, **dataclasses.asdict(leg), "queries": queries},
        "datasets": {
            k: {f: v for f, v in dataclasses.asdict(datasets[k]).items() if f != "path"}
            for k in sorted(used)
        },
        "git_sha": _git_sha(),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "cores": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "results": results,
    }
    path = os.path.join(out_dir, f"BENCH_{leg.stem}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    render(path)
    return report


# --------------------------------------------------------------------------
# The renderer


def _recipe(label: str, d: dict) -> str:
    if d.get("base") is None:
        return f"`{label}` = the generated base dataset (TESTDATA.md)"
    files = ", ".join(f"{t} {n}" for t, n in d["files"].items() if t != "*")
    files = f"{d['files']['*']} files per table" + (f" ({files})" if files else "")
    if d["copies"] > 1:
        s = (
            f"`{label}` = {d['copies']} copies of `{d['base']}` (key stride ×{d['stride']}, "
            f"token suffix `{d['suffix']}<k>`"
        )
        if d["skew"]:
            s += ", then skewed" + (", head tokens picked before the suffix" if d["head_on_base"] else "")
        tables = "all tables" if tuple(d["tables"]) == catalog.TABLES else ", ".join(d["tables"])
        s += f"; {tables}; {files})"
        return s
    return (
        f"`{label}` = `{d['base']}` skewed ({', '.join(d['tables'])} rewritten, "
        f"other tables symlinked; {files})"
    )


def _fmt(v, unit: str = "s") -> str:
    # the JSON's own value, not a re-rounding of it
    return "—" if v is None else f"{v:g}{unit}"


def render(json_path: str) -> str:
    """Write the markdown next to ``json_path`` from that JSON alone."""
    with open(json_path) as fh:
        r = json.load(fh)
    leg, res = r["leg"], r["results"]
    cols = [_label(ds, mem, leg["jvms"]) for mem, _ in leg["jvms"] for ds in leg["datasets"]]
    factors = [tuple(f) for f in leg["factors"]]
    stem = os.path.basename(json_path)[len("BENCH_"):-len(".json")]

    def wall(q, c):
        return res[q].get(c, {}).get("wall_s")

    def factor(q, num, den):
        a, b = wall(q, num), wall(q, den)
        return a / b if a is not None and b else None

    jvm = "; ".join(
        f"driver memory {mem or 'default'}, local[{cores or r.get('cores', '?')}]"
        for mem, cores in leg["jvms"]
    )
    legacy = r.get("legacy", {})
    policy = legacy.get("policy") or (
        f"one child JVM per (query, heap); per dataset one cold run then "
        f"{leg['warm']} warm pass(es), each in its own job group; wall = fastest "
        f"warm pass; noop sink, cache cleared per run"
    )
    lines = [
        f"# BENCH_{stem} — {leg['title']}",
        "",
        "Rendered by `tools/scale.py` from "
        f"`BENCH_{stem}.json`; leg `{leg['name']}` (`python tools/scale.py {leg['name']}`).",
        "",
        *[f"- {_recipe(k, d)}" for k, d in r["datasets"].items()],
        "",
        f"{policy}.  {jvm}.  git {r.get('git_sha')}"
        + (f", loadavg {r['loadavg_1m']}." if r.get("loadavg_1m") is not None else "."),
        "",
    ]

    done = [q for q in res if all(wall(q, c) is not None for c in cols if c in res[q])]
    full = [q for q in done if all(c in res[q] for c in cols)]
    fnames = [f"{n}/{d}" for n, d in factors]
    lines += [
        "| query | " + " | ".join(cols + fnames) + " | note |",
        "|---" * (1 + len(cols) + len(fnames)) + "|---|",
    ]
    last = factors[-1]
    rows = sorted(done, key=lambda q: -(factor(q, *last) or 0))
    for q in rows + [q for q in res if q not in done]:
        cells = []
        for c in cols:
            rec = res[q].get(c)
            cells.append("—" if rec is None else "DIED" if "died" in rec else _fmt(rec["wall_s"]))
        for f in factors:
            v = factor(q, *f)
            cells.append("—" if v is None else f"{v:.1f}x")
        died = "; ".join(f"{c}: {rec['died']}" for c, rec in res[q].items() if "died" in rec)
        note = " ".join(x for x in (leg["notes"].get(q, ""), died and f"DIED {died}") if x)
        lines.append(f"| {q} | " + " | ".join(cells) + f" | {note} |")

    totals = [sum(wall(q, c) for q in full) for c in cols]
    lines += [
        "",
        f"**Totals over the {len(full)} queries that finished everywhere: "
        + " → ".join(f"{t:.1f}s" for t in totals)
        + "".join(
            f"; {n}/{d} {totals[cols.index(n)] / max(totals[cols.index(d)], 1e-9):.2f}×"
            for n, d in factors
        )
        + ".**",
        "",
    ]
    for f in factors:
        worst = max(done, key=lambda q: factor(q, *f) or 0, default=None)
        if worst is not None and factor(worst, *f) is not None:
            lines += [f"**Worst {f[0]}/{f[1]}: {factor(worst, *f):.1f}× ({worst}).**", ""]

    metric_keys = ("cold_s", "walls_s", "task_s", "spill_mem_mb", "spill_disk_mb", "skew_split")
    if any(k in rec for q in res for rec in res[q].values() for k in metric_keys):
        lines += [
            "## Per-run metrics",
            "",
            "Task time and spill are of the fastest warm pass's job group; "
            "`AQE skew split` reads the plan that ran.",
            "",
            "| query | column | cold | warm walls | task | mem spill MB | disk spill MB | AQE skew split |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for q in res:
            for c in cols:
                rec = res[q].get(c)
                if rec is None or "died" in rec:
                    continue
                walls = ", ".join(_fmt(w) for w in rec.get("walls_s") or []) or "—"
                spill = ["—" if rec.get(k) is None else f"{rec[k]:.1f}" for k in ("spill_mem_mb", "spill_disk_mb")]
                skew_v = rec.get("skew_split")
                lines.append(
                    f"| {q} | {c} | {_fmt(rec.get('cold_s'))} | {walls} | {_fmt(rec.get('task_s'))} | "
                    f"{spill[0]} | {spill[1]} | {'—' if skew_v is None else 'yes' if skew_v else 'no'} |"
                )
    md = json_path[: -len(".json")] + ".md"
    with open(md, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return md


def main(argv: list[str]) -> int:
    if argv[:1] == ["--child"]:
        _child(json.loads(argv[1]))
        return 0
    if argv[:1] == ["--render"]:
        for stem in argv[1:]:
            print("->", render(os.path.join(REPO, f"BENCH_{stem}.json")))
        return 0
    rebuild = "--rebuild" in argv
    args = [a for a in argv if not a.startswith("--")]
    from sec_edgar_spark.session import get_spark

    if argv[:1] == ["--build"]:
        labels, queries, leg = args, [], None
    else:
        leg, queries = LEGS[args[0]], args[1:]
        labels = list(leg.datasets)
    spark = get_spark(app_name="scale-build")
    spark.sparkContext.setLogLevel("ERROR")
    for label in labels:
        build(spark, label, rebuild=rebuild)
    spark.stop()
    if leg is not None:
        run_leg(args[0], leg, queries=queries)
        print(f"-> BENCH_{leg.stem}.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
