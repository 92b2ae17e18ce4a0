"""Third-decade evidence for the posting-cap family (VERDICT r11 #5).

The heaviest operators in the repo are the capped candidate
generators — ``dedup_prefix_filter_capped`` (40-50s at sf10),
``dedup_containment_capped``, ``er_match_score_capped`` — and their
"≤10×/decade" linearity claim stops at the second decade.  This tool
builds an sf100-scale replica of exactly the tables those three read
(documents via the token-suffixed 10× recipe over sf10, part via the
key-offset recipe; nothing else — embeddings/events are not read by
this family) and times sf10 → sf100.

The replica recipe is the SAME per-decade construction sf1→sf10 used
(tools/scale_probe.py): replica k's tokens get a ``_k`` suffix (so
replicas are not trivial duplicates and posting lists grow with real
vocabulary), relational keys get disjoint offsets while the BLOCKING
vocabulary (p_type, p_size, name tokens) stays fixed — per-decade
posting/block heat grows adversarially, which is precisely what the
caps exist to survive.

Reading: wall(sf100)/wall(sf10) ≤ ~10 per query = the cap holds a
decade of linearity; materially above needs a named cause.

Usage: python tools/sf100_bench.py [--rebuild] [query ...]
Writes BENCH_SF100.md + BENCH_SF100.json.
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
SF10 = os.path.join(REPO, "testdata_sf10")
SF100 = os.path.join(REPO, "testdata_sf100")

PROBES = [
    "dedup_prefix_filter_capped",
    "dedup_containment_capped",
    "er_match_score_capped",
]

ANNOTATIONS = {
    "dedup_prefix_filter_capped": "PPJoin posting cap: candidate work "
    "bounded per posting list; the heaviest query in the repo",
    "dedup_containment_capped": "containment posting cap — same family",
    "er_match_score_capped": "ER block cap: blocks above _BLOCK_CAP "
    "dropped before the pair join (fixed blocking vocabulary → blocks "
    "are 10× hotter per decade; the cap must bind harder, not slower)",
}


def build_sf100(spark) -> None:
    from sec_edgar_spark import catalog
    from tools.scale_probe import _KEY_OFFSETS

    os.makedirs(SF100, exist_ok=True)
    t0 = time.time()
    print("building sf100 documents (10x of sf10, 100x strides)...",
          flush=True)
    doc = catalog.table(spark, SF10, "documents")
    parts = []
    for k in range(10):
        suffixed = F.array_join(
            F.transform(
                F.filter(F.split("text", r"\s+"), lambda t: t != ""),
                lambda t: F.concat(t, F.lit(f"_d{k}")),
            ),
            " ",
        )
        parts.append(
            doc.select(
                (F.col("doc_id") + k * 100 * 1_000_000).alias("doc_id"),
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
    u.coalesce(32).write.mode("overwrite").parquet(
        f"{SF100}/documents.parquet"
    )

    print("building sf100 part (10x of sf10, 100x strides)...", flush=True)
    pt = catalog.table(spark, SF10, "part")
    parts = []
    for k in range(10):
        cols = [
            (F.col(c) + k * 100 * _KEY_OFFSETS[c]).alias(c)
            if c in _KEY_OFFSETS
            else F.col(c)
            for c in pt.columns
        ]
        parts.append(pt.select(*cols))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.coalesce(16).write.mode("overwrite").parquet(f"{SF100}/part.parquet")
    print(f"built in {time.time() - t0:.0f}s -> {SF100}", flush=True)


def main() -> int:
    import sec_edgar_spark.queries as Q

    probes = [a for a in sys.argv[1:] if not a.startswith("--")] or PROBES

    # No per-run shuffle conf: catalog.table applies the dataset's
    # input-bytes rule and the capped queries size their own candidate
    # exchange from the pair estimate (operators/stats.py).
    # UI on for job-group task metrics (r14, VERDICT #8: the decade
    # claim needs SPILL evidence, not just walls — the r13 partition
    # calibration was motivated by a 24 GB spill at 128 partitions).
    from sec_edgar_spark.session import builder

    spark = (
        builder(app_name="sf100-bench")
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if spark.sparkContext.uiWebUrl is None:
        print("Spark UI is off — the task-time and spill metrics need it")
        return 1
    spark.conf.set("spark.sec_edgar.longcents", "true")

    if not os.path.exists(os.path.join(SF10, "documents.parquet")):
        print("uniform sf10 missing — run tools/sf10_bench.py first")
        return 1
    if "--rebuild" in sys.argv or not os.path.exists(
        os.path.join(SF100, "documents.parquet")
    ):
        build_sf100(spark)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    noop(spark.range(10000).mapInPandas(lambda it: it, "id long"))
    for d in (SF10, SF100):
        from sec_edgar_spark import catalog

        catalog.table(spark, d, "documents").count()
        catalog.table(spark, d, "part").count()

    qs = Q.queries()
    # Untimed warmup execution of the first probe at BOTH dirs (r13:
    # symmetric — the r12 run warmed only sf10): the first heavy query
    # in a fresh JVM pays codegen/JIT/page-cache costs, and the first
    # capped query on a DATASET additionally pays the one-time exact
    # token-df probe (memoized per dataset, shared by the prefix and
    # containment queries).  Warming only sf10 books those one-time
    # sf100 costs into the timed sf100 leg and inflates the decade
    # factor (first run measured prefix@sf10 at 157s cold vs ~50s
    # warm; the sf100 probe alone is tens of seconds).  The cold
    # first-run walls are recorded in the JSON as first_run_s so the
    # one-time cost stays visible rather than hidden.
    first_run = {}
    for label, d in (("sf10", SF10), ("sf100", SF100)):
        print(f"  warmup (untimed): {probes[0]} @ {label}", flush=True)
        t0 = time.time()
        noop(qs[probes[0]](spark, d))
        first_run[label] = round(time.time() - t0, 1)
        spark.catalog.clearCache()
    # min over PASSES per leg: single-pass walls on this box swing up
    # to 2× run-to-run at the sf10 scale (containment@sf10 measured
    # 44-89s across three same-code runs) while the sf100 legs repeat
    # within ±2% — a single-pass decade factor is ambient noise, not a
    # scaling statement.  Min wall is the least-noise estimator of the
    # steady-state cost; all passes are recorded in the JSON.
    passes = int(os.environ.get("SF100_BENCH_PASSES", "2"))
    all_walls: dict[str, dict[str, list]] = {
        n: {"sf10": [], "sf100": []} for n in probes
    }
    # Per-leg executor task time + total disk spill (r14): job-group
    # attributed via the REST API, best-effort like bench.py's capture.
    from tools.taskmetrics import GroupMetrics

    gm = GroupMetrics(spark)
    leg_metrics: dict[str, dict[str, dict]] = {
        n: {"sf10": {}, "sf100": {}} for n in probes
    }
    fastest: dict[tuple[str, str], float] = {}
    for p in range(passes):
        for name in probes:
            fn = qs[name]
            for label, d in (("sf10", SF10), ("sf100", SF100)):
                spark.catalog.clearCache()
                gid = f"sf100:{name}:{label}:{p}"
                spark.sparkContext.setJobGroup(gid, name)
                t0 = time.time()
                noop(fn(spark, d))
                spark.sparkContext.setJobGroup("", "")
                w = time.time() - t0
                all_walls[name][label].append(round(w, 1))
                stages = gm.stage_profile(gid, top=10_000)
                # None, not 0.0, when the REST metrics are unavailable
                spill = (
                    round(sum(s["spill_mb"] for s in stages), 1)
                    if stages
                    else None
                )
                # keep the metrics of the FASTEST pass per leg (matches
                # the min-wall row the table reports)
                if w < fastest.get((name, label), float("inf")):
                    fastest[name, label] = w
                    leg_metrics[name][label] = {
                        "wall_s": round(w, 1),
                        "task_time_s": gm.task_time_s(gid),
                        "spill_mb": spill,
                        "n_stages": len(stages),
                    }
                print(
                    f"  [pass {p + 1}/{passes}] {name} @ {label}: "
                    f"{w:.1f}s task={gm.task_time_s(gid)} "
                    f"spill={spill}MB (shuffle="
                    f"{spark.conf.get('spark.sql.shuffle.partitions')})",
                    flush=True,
                )
    rows = []
    for name in probes:
        w10 = min(all_walls[name]["sf10"])
        w100 = min(all_walls[name]["sf100"])
        rows.append((name, w10, w100, w100 / max(w10, 1e-9)))

    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, cwd=REPO,
    ).stdout.strip()
    lines = [
        "# BENCH_SF100 — the posting-cap family at the third decade",
        "",
        f"sf100 = 10× of the uniform sf10 replica (token-suffixed docs, "
        f"key-offset part; SAME per-decade recipe as sf1→sf10), tables "
        f"limited to what this family reads.  Fixed blocking/posting "
        f"vocabulary means per-key heat grows with the decade — the "
        f"adversarial direction for the caps.  "
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}], "
        f"shuffle partitions from the engine (operators/stats.py: the "
        f"dataset's input-bytes rule, candidate exchanges sized by "
        f"their pair estimate — no per-run conf), "
        f"wall = MIN of {passes} passes per (query, dir) after a "
        f"PER-DIR untimed first-probe warmup (the one-time exact "
        f"token-df probe and page-cache fill are excluded from BOTH "
        f"legs symmetrically; single-pass walls swing up to 2× "
        f"run-to-run at sf10 scale on this box — all passes + cold "
        f"first-run walls recorded in the JSON), noop sink.  "
        f"git {sha}, "
        f"loadavg {os.getloadavg()[0]:.1f}.",
        "",
        "| query | sf10 | sf100 | ×/decade | sf100 spill | note |",
        "|---|---|---|---|---|---|",
    ]
    for name, w10, w100, f_ in sorted(rows, key=lambda r: -r[3]):
        sp = leg_metrics[name]["sf100"].get("spill_mb")
        lines.append(
            f"| {name} | {w10:.1f}s | {w100:.1f}s | {f_:.1f}x | "
            f"{sp if sp is not None else '—'} MB | "
            f"{ANNOTATIONS.get(name, '')} |"
        )
    worst = max((r[3] for r in rows), default=0)
    lines += [
        "",
        f"**Worst decade factor: {worst:.1f}× (bar: ≤ ~10×/decade "
        f"linearity; materially above needs a named cause).**",
        "",
    ]
    with open(os.path.join(REPO, "BENCH_SF100.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(REPO, "BENCH_SF100.json"), "w") as fh:
        json.dump(
            {
                "git_sha": sha,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "first_run_s": first_run,
                "passes": passes,
                "all_walls_s": all_walls,
                "leg_metrics": leg_metrics,
                "rows": [
                    {"query": n, "sf10_s": round(a, 1),
                     "sf100_s": round(b, 1), "factor": round(f_, 2)}
                    for n, a, b, f_ in rows
                ],
            },
            fh, indent=1,
        )
        fh.write("\n")
    print("-> BENCH_SF100.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
