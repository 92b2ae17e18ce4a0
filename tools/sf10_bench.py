"""Second-decade scale validation: sf0.1 → sf1 → sf10 (VERDICT r9 #3).

A single 10× step cannot distinguish linear from n·log n from
gently-quadratic growth; two steps can, and the r8 binding-cap probe
already proved regime flips exist between decades.  This tool builds
an sf10 replica (10× of testdata_sf1 via the SAME key-offset
transforms with 10× strides — still constant per-key density, still
no cross-replica shingle collisions) and runs the 15 heaviest
headline queries at all three scales, writing BENCH_SF10.md with BOTH
decade factors side by side.

Reading the factors: decade2 ≤ decade1 (within noise) = subquadratic
— healthy.  decade2 > decade1 means a superlinear term is emerging;
it gets a named term (answer growth, log factor, spill) or it is a
scale bug.

Named EXCLUSIONS (documented answer-bound monsters whose second
decade proves only their already-documented property at 15+ min of
wall):
- dedup_embedding_cosine — exact all-pairs BY DESIGN: compute grows
  ~100× per decade (SCALE.md, BENCH_SF1_FULL); the LSH/IVF family is
  the scale path and IS probed here.
- er_entity_groups / er_match_score — the uncapped blocked-ER pair
  count grows ~quadratically on the replica corpus by construction
  (identical names every replica; r8 probe: 186× answer at one
  decade).  The CAPPED twin er_match_score_capped runs here instead —
  the cap holding across BOTH decades is the claim that matters at
  100 TB.
- dedup_semantic — SemDeDup's within-cluster exact pair scoring is
  pair-count-bound: cluster mass grows with the corpus, so the second
  decade costs ~100× the first (measured: its first sf10 run was
  still inside one scoring stage at 28 minutes).  Its scale path at
  real corpus sizes is the SAME banded/capped candidate generation
  the LSH family probes here; first-decade evidence (13.3s at sf1,
  sublinear vs its own pair count) is in BENCH_SF1_FULL.md.

Timing policy: sf0.1/sf1 best-of-2; sf10 single run (the replica is
cold-built, pages are warm from the build; a second run would double
a ~15 min pass to shave noise the decade factors don't need).

Usage: python tools/sf10_bench.py [--rebuild] [query ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, ".")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "testdata_sf1")
SF10 = os.path.join(REPO, "testdata_sf10")

# 15 heaviest from BENCH_SF1_FULL.json minus the named exclusions,
# plus the capped-ER representative.
PROBES = [
    "graph_components_modularity",
    "dedup_prefix_filter_capped",
    "dedup_ngram_jaccard_pairs",
    "curation_funnel_report",
    "text_trigram_search",
    "graph_link_prediction_jaccard",
    "dedup_simhash_hamming",
    "dedup_containment_capped",
    "multimodal_image_dedup_tiles",
    "agg_bootstrap_ci",
    "dedup_cluster_size_histogram",
    "agg_selfjoin_size_estimate",
    "curation_keep_best",
    "er_match_score_capped",
]

ANNOTATIONS = {
    "dedup_ngram_jaccard_pairs": "uncapped posting join (capped twin is the scale path); replicas are collision-free so pairs stay linear here",
    "multimodal_image_dedup_tiles": "per-row synthesize+decode is the workload (map-only); expect ~linear",
    "agg_selfjoin_size_estimate": "CMS build is corpus-linear",
    "er_match_score_capped": "THE cap claim: per-block candidate caps must hold the second decade too",
}


def build_sf10(spark) -> None:
    from tools.scale_probe import build_relational_replicas, build_replicas

    print("building sf10 (10x of sf1, 10x strides) ...", flush=True)
    t0 = time.time()
    build_replicas(spark, base=SF1, out=SF10, replicas=10, stride_mult=10)
    build_relational_replicas(
        spark, base=SF1, out=SF10, replicas=10, stride_mult=10
    )
    print(f"built in {time.time() - t0:.0f}s -> {SF10}", flush=True)


def main() -> int:
    from sec_edgar_spark.session import get_spark
    import sec_edgar_spark.queries as Q

    probes = [a for a in sys.argv[1:] if not a.startswith("--")] or PROBES

    spark = get_spark(app_name="sf10-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sec_edgar.longcents", "true")

    if not os.path.exists(os.path.join(SF1, "documents.parquet")):
        from tools.sf1_bench import build_sf1

        build_sf1(spark)
    if "--rebuild" in sys.argv or not os.path.exists(
        os.path.join(SF10, "documents.parquet")
    ):
        build_sf10(spark)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    noop(spark.range(10000).mapInPandas(lambda it: it, "id long"))
    from sec_edgar_spark import catalog

    for t in catalog.TABLES:
        catalog.table(spark, SF01, t).count()
        catalog.table(spark, SF1, t).count()
        catalog.table(spark, SF10, t).count()

    qs = Q.queries()
    rows = []
    for name in probes:
        fn = qs[name]
        walls = {}
        for label, d, n_runs in (
            ("sf0.1", SF01, 2),
            ("sf1", SF1, 2),
            ("sf10", SF10, 1),
        ):
            best = float("inf")
            for _ in range(n_runs):
                spark.catalog.clearCache()
                t0 = time.time()
                noop(fn(spark, d))
                best = min(best, time.time() - t0)
            walls[label] = best
        d1 = walls["sf1"] / max(walls["sf0.1"], 1e-9)
        d2 = walls["sf10"] / max(walls["sf1"], 1e-9)
        rows.append((name, walls["sf0.1"], walls["sf1"], walls["sf10"], d1, d2))
        print(
            f"{name:35s} {walls['sf0.1']:7.2f}s {walls['sf1']:7.2f}s "
            f"{walls['sf10']:8.2f}s  d1={d1:5.1f}x d2={d2:5.1f}x",
            flush=True,
        )

    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True,
        text=True,
        cwd=REPO,
    ).stdout.strip()
    lines = [
        "# BENCH_SF10 — second-decade validation (sf0.1 → sf1 → sf10)",
        "",
        f"sf10 = 10× key-offset replicas of testdata_sf1 (10× strides; "
        f"constant per-key density, no cross-replica shingle "
        f"collisions), ~1.5 GB on disk.  "
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}], sf0.1/sf1 "
        f"best-of-2, sf10 single run, noop sink, cache cleared per run.  "
        f"git {sha}, loadavg {os.getloadavg()[0]:.1f}.",
        "",
        "`d1` = sf1/sf0.1 wall factor (first decade), `d2` = sf10/sf1 "
        "(second decade).  d2 ≤ d1 (within noise) = subquadratic; "
        "d2 > d1 needs a named term.",
        "",
        "Excluded by name (documented answer-bound monsters; see module "
        "docstring): `dedup_embedding_cosine` (~100×/decade exact "
        "all-pairs by design), `er_entity_groups`/`er_match_score` "
        "(uncapped blocked-ER pairs ~quadratic on the replica corpus "
        "by construction; the capped twin runs instead), "
        "`dedup_semantic` (within-cluster pair scoring is "
        "pair-count-bound: its single sf10 run was still inside one "
        "scoring stage at 28 min — the LSH/capped family probed here "
        "is its scale path).",
        "",
        "| query | sf0.1 | sf1 | sf10 | d1 | d2 | note |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, w01, w1, w10, d1, d2 in sorted(rows, key=lambda r: -r[5]):
        note = ANNOTATIONS.get(name, "")
        lines.append(
            f"| {name} | {w01:.2f}s | {w1:.2f}s | {w10:.2f}s | "
            f"{d1:.1f}x | {d2:.1f}x | {note} |"
        )
    t01 = sum(r[1] for r in rows)
    t1 = sum(r[2] for r in rows)
    t10 = sum(r[3] for r in rows)
    lines += [
        "",
        f"**Totals: {t01:.1f}s → {t1:.1f}s → {t10:.1f}s "
        f"(decades {t1/max(t01,1e-9):.1f}× then {t10/max(t1,1e-9):.1f}× "
        f"for 10× data each).**",
    ]
    with open(os.path.join(REPO, "BENCH_SF10.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(REPO, "BENCH_SF10.json"), "w") as fh:
        json.dump(
            {
                "git_sha": sha,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "queries": {
                    name: {
                        "sf0.1": round(w01, 3),
                        "sf1": round(w1, 3),
                        "sf10": round(w10, 3),
                    }
                    for name, w01, w1, w10, _, _ in rows
                },
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    print(f"-> BENCH_SF10.md ({len(rows)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
