"""sf1 (10× bench-scale) headline validation (VERDICT r8 #1).

BASELINE.md's bar is "within 2× of the reference at the same scale
factor", but no testdata above sf0.1 exists locally — so every
at-scale claim so far rests on per-operator 10× probes.  This tool
converts the design story into ONE measured end-to-end run:

1. Materializes a persistent sf1 replica (10× of /root/testdata/sf0.1,
   ~6 M lineitem rows / ~50 K documents) at ``testdata_sf1/`` inside
   the repo (gitignored), using the SAME per-replica key-offset
   transforms as tools/scale_probe.py — constant per-key density (new
   users/docs/vectors, not hotter ones), no cross-replica shingle
   collisions, a disjoint slice of the same star schema per replica.
2. Runs the TOP_SF1 headline queries (the ~25 most expensive from the
   r8 bench plus canonical anchors) at sf0.1 and sf1 with the noop
   sink, best-of-2, cache cleared between runs — bench.py's timing
   policy exactly (including per-query scan-spread).
3. Writes BENCH_SF1.md (per-query walls + growth factor + the known
   answer-bound annotations) and BENCH_SF1.json.

Reading the factors: ~1× = overhead/scan-bound at this scale, ~10× =
linear in data — both are healthy.  Superlinear growth is only
expected for the documented answer-bound cases (ANNOTATIONS below);
anything else superlinear is a scale bug.

Usage: python tools/sf1_bench.py [--rebuild]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, ".")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "testdata_sf1")

# ~25 most expensive headline queries from the r8 bench + canonical
# anchors (one per family).  Static so the list is round-stable.
TOP_SF1 = [
    # heaviest from the r8 per-query record
    "dedup_cluster_size_histogram",
    "agg_bootstrap_ci",
    "ann_pq_adc_topk",
    "curation_keep_best",
    "curation_export_shards",
    "agg_selfjoin_size_estimate",
    "text_trigram_search",
    "er_entity_groups",
    "graph_wcc_components",
    "dedup_containment_capped",
    "dedup_prefix_filter_capped",
    "dedup_simhash_adaptive",
    "dedup_simhash_hamming",
    "multimodal_audio_energy",
    "dedup_incremental_lsh",
    "curation_cluster_balanced_sample",
    "curation_token_budget_select",
    "audit_quality_length_bias",
    "curation_dsir_select",
    "agg_trimmed_mean",
    "curation_contamination_report",
    "agg_weighted_percentiles",
    "text_bigram_surprisal",
    "graph_ppr_seeded",
    "ann_lsh_multiprobe_topk",
    # canonical anchors
    "q1_pricing_summary",
    "q9_product_profit",
    "dedup_minhash_lsh_pairs",
    "ann_bruteforce_topk",
    "events_sessionize",
    "text_bm25_search",
    "graph_pagerank",
]

# Known answer-bound / compute-bound-by-design cases: growth beyond
# ~10x here probes the ANSWER SIZE or an intentional exact-pairs
# design, not an operator defect (SCALE.md records the per-operator
# evidence).
ANNOTATIONS = {
    "dedup_embedding_cosine": "exact all-pairs BY DESIGN (SCALE.md): compute grows ~100x at 10x corpus — wall well under that is the Arrow scorer's win; the scale path is the LSH/IVF family",
    "er_match_score": "answer-bound: blocked candidate pairs grow superlinearly on replicated names (same corpus property as er_entity_groups)",
    "dedup_semantic": "trained clusters re-fit on the 10x corpus; within-cluster pair scoring grows with cluster mass — sublinear vs the pair count",
    "er_entity_groups": "answer-bound: true match count grows superlinearly on replicated names (SCALE.md r8 probe: 186x answer, 5-6x wall)",
    "dedup_cluster_size_histogram": "recomputes full components inline by gate design; production persists components once (operators/reporting.py)",
    "agg_selfjoin_size_estimate": "CMS build is corpus-linear; md5 hash family is the portability tax",
    "multimodal_audio_energy": "per-row synthesis+decode IS the workload (map-only); expect ~linear",
    "multimodal_image_tile_luminance": "per-row synthesis+decode IS the workload (map-only); expect ~linear",
}


def build_sf1(spark) -> None:
    from tools.scale_probe import build_relational_replicas, build_replicas

    print("building sf1 replica (10x of sf0.1) ...", flush=True)
    t0 = time.time()
    build_replicas(spark, base=BASE, out=SF1, replicas=10)
    build_relational_replicas(spark, base=BASE, out=SF1, replicas=10)
    print(f"built in {time.time() - t0:.0f}s -> {SF1}", flush=True)


def main() -> int:
    from sec_edgar_spark.session import get_spark
    import sec_edgar_spark.queries as Q
    import bench

    # --all: validate the ENTIRE headline battery at sf1 (writes
    # BENCH_SF1_FULL.md/.json), not just the TOP_SF1 heavyweights.
    full = "--all" in sys.argv
    names = list(bench.HEADLINE) if full else TOP_SF1
    suffix = "_FULL" if full else ""

    spark = get_spark(app_name="sf1-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sec_edgar.longcents", "true")

    if "--rebuild" in sys.argv or not os.path.exists(
        os.path.join(SF1, "lineitem.parquet")
    ):
        build_sf1(spark)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    # same warmup as bench.py
    noop(spark.range(10000).mapInPandas(lambda it: it, "id long"))
    from sec_edgar_spark import catalog

    for t in catalog.TABLES:
        catalog.table(spark, BASE, t).count()
        catalog.table(spark, SF1, t).count()

    qs = Q.queries()
    rows = []
    for name in names:
        fn = qs[name]
        walls = {}
        for label, d in (("sf0.1", BASE), ("sf1", SF1)):
            best = float("inf")
            n_runs = 3 if name in bench.BEST_OF_3 else 2
            for _ in range(n_runs):
                spark.catalog.clearCache()
                t0 = time.time()
                noop(fn(spark, d))
                best = min(best, time.time() - t0)
            walls[label] = best
        factor = walls["sf1"] / max(walls["sf0.1"], 1e-9)
        rows.append((name, walls["sf0.1"], walls["sf1"], factor))
        print(
            f"{name:35s} {walls['sf0.1']:7.2f}s {walls['sf1']:7.2f}s "
            f"{factor:5.1f}x",
            flush=True,
        )

    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True,
        text=True,
        cwd=REPO,
    ).stdout.strip()
    total01 = sum(r[1] for r in rows)
    total1 = sum(r[2] for r in rows)
    lines = [
        f"# BENCH_SF1{suffix} — headline validation at sf1 (10× bench scale)",
        "",
        f"Replica: 10× key-offset replicas of sf0.1 (tools/scale_probe.py "
        f"transforms; constant per-key density) at `testdata_sf1/`. "
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}], best-of-2 "
        f"(best-of-3 for iterative trainers), noop sink, cache cleared "
        f"per run.  git {sha}, loadavg {os.getloadavg()[0]:.1f}.",
        "",
        f"**Totals: {total01:.1f}s at sf0.1 → {total1:.1f}s at sf1 "
        f"({total1 / max(total01, 1e-9):.1f}× wall for 10× data across "
        f"{len(rows)} queries).**",
        "",
        "| query | sf0.1 | sf1 | factor | note |",
        "|---|---|---|---|---|",
    ]
    for name, w01, w1, f in sorted(rows, key=lambda r: -r[3]):
        note = ANNOTATIONS.get(name, "")
        lines.append(f"| {name} | {w01:.2f}s | {w1:.2f}s | {f:.1f}x | {note} |")
    with open(os.path.join(REPO, f"BENCH_SF1{suffix}.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(REPO, f"BENCH_SF1{suffix}.json"), "w") as fh:
        json.dump(
            {
                "git_sha": sha,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "queries": {
                    name: {"sf0.1": round(w01, 3), "sf1": round(w1, 3)}
                    for name, w01, w1, _ in rows
                },
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    print(f"-> BENCH_SF1{suffix}.md ({len(rows)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
