"""Third decade for the window/salt and graph families (VERDICT r12 #3).

BENCH_SF100 covered only the posting-cap family; this tool extends the
third-decade evidence to the two other scale-critical families:

- the HEAT-DISPATCHED event windows (sessionize, as-of, capped
  attribution, funnel, markov) at sf10 → sf100 on BOTH the uniform
  replica (probe → plain plans) and the Zipf-skew replica (probe →
  salted plans; the hot user grows 3M → 30M rows, one full decade of
  hot-key mass);
- the ITERATIVE graph ops (wcc_star contraction, label propagation,
  the MinHash-components modularity composition) at sf10 → sf100 —
  per-round shuffle volume is the risk dimension.

Corpus recipes (same per-decade construction as every prior decade):

- events uniform: 10 replicas of sf10 events, event_id/user_id offset
  with 100× strides (tools/scale_probe.py recipe) — per-key density
  constant, keys disjoint.
- events skew: 30 % of the UNIFORM sf100 events re-pinned to
  HOT_USER (same xxhash64(event_id) rule as tools/sf10_skew.py) →
  a ~30M-row hot key, the decade-up of sf10-skew's 3M.
- orders/lineitem: 10× of sf10 with key offsets at 100× strides
  (the graph families' edge sources; p_* vocabularies irrelevant
  here).

Shuffle sizing is the ENGINE's (operators/stats.py, r13 #1): no
per-run conf — each leg runs at whatever the input-bytes rule picks,
which is itself part of what the decade factor measures.

Reading: wall(sf100)/wall(sf10) ≤ ~10×/decade = linear; above needs a
named cause (answer growth, per-round count growth, or a new wall).

Usage: python tools/sf100_families.py [--rebuild] [query ...]
Writes BENCH_SF100_FAMILIES.md + BENCH_SF100_FAMILIES.json.
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
SF10_SKEW = os.path.join(REPO, "testdata_sf10_skew")
SF100 = os.path.join(REPO, "testdata_sf100")
SF100_SKEW = os.path.join(REPO, "testdata_sf100_skew")

HOT_USER = 777_777

EVENT_PROBES = [
    "events_sessionize",
    "events_asof_join",
    "events_attribution_capped",
    "events_funnel_conversion",
    "events_markov_transitions",
]
GRAPH_PROBES = [
    "graph_wcc_components",
    "graph_label_propagation",
    "graph_components_modularity",
]

ANNOTATIONS = {
    "events_sessionize": "heat-dispatched gap sessionize: plain on "
    "uniform, salted (user, 6h-bucket) on skew",
    "events_asof_join": "heat-dispatched as-of: plain window vs salted "
    "bucket+carry",
    "events_attribution_capped": "capped lookback join + salted "
    "rank/as-of inside",
    "events_funnel_conversion": "salted suffix-min when hot",
    "events_markov_transitions": "salted lag when hot (the biggest "
    "salt-tax pin delta)",
    "graph_wcc_components": "large-star/small-star contraction to "
    "fixpoint — per-round shuffle shrinks with the working set",
    "graph_label_propagation": "3 synchronous LPA rounds — per-round "
    "shuffle is |E| both decades",
    "graph_components_modularity": "MinHash->LSH->components->modularity "
    "composition over documents (the heaviest composed graph query)",
}


def build_sf100_events(spark) -> None:
    from sec_edgar_spark import catalog

    os.makedirs(SF100, exist_ok=True)
    t0 = time.time()
    print("building sf100 events (10x of sf10, 100x strides)...", flush=True)
    ev = catalog.table(spark, SF10, "events")
    parts = []
    for k in range(10):
        parts.append(
            ev.select(
                (F.col("event_id") + k * 100 * 10_000_000).alias("event_id"),
                "ts",
                (F.col("user_id") + k * 100 * 1_000_000).alias("user_id"),
                *[
                    c
                    for c in ev.columns
                    if c not in ("event_id", "user_id")
                    and c != "ts"
                ],
            ).select(*ev.columns)  # restore original column order
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.coalesce(16).write.mode("overwrite").parquet(f"{SF100}/events.parquet")
    print(f"  events built in {time.time() - t0:.0f}s", flush=True)


def build_sf100_skew_events(spark) -> None:
    os.makedirs(SF100_SKEW, exist_ok=True)
    t0 = time.time()
    print("building sf100-skew events (30% -> one hot user)...", flush=True)
    ev = spark.read.parquet(f"{SF100}/events.parquet")
    ev.withColumn(
        "user_id",
        F.when(
            F.pmod(F.xxhash64("event_id"), F.lit(100)) < 30,
            F.lit(HOT_USER).cast("long"),
        ).otherwise(F.col("user_id")),
    ).repartition(32).write.mode("overwrite").parquet(
        f"{SF100_SKEW}/events.parquet"
    )
    hot = (
        spark.read.parquet(f"{SF100_SKEW}/events.parquet")
        .filter(F.col("user_id") == HOT_USER)
        .count()
    )
    print(
        f"  skew events built in {time.time() - t0:.0f}s, "
        f"hot user = {hot:,} rows",
        flush=True,
    )


def build_sf100_relational(spark) -> None:
    from sec_edgar_spark import catalog
    from tools.scale_probe import _KEY_OFFSETS

    t0 = time.time()
    for t in ("orders", "lineitem"):
        if os.path.exists(f"{SF100}/{t}.parquet"):
            continue
        print(f"building sf100 {t} (10x of sf10, 100x strides)...", flush=True)
        tbl = catalog.table(spark, SF10, t)
        parts = []
        for k in range(10):
            cols = [
                (F.col(c) + k * 100 * _KEY_OFFSETS[c]).alias(c)
                if c in _KEY_OFFSETS
                else F.col(c)
                for c in tbl.columns
            ]
            parts.append(tbl.select(*cols))
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        n_files = 64 if t == "lineitem" else 16
        u.coalesce(n_files).write.mode("overwrite").parquet(
            f"{SF100}/{t}.parquet"
        )
    print(f"  relational built in {time.time() - t0:.0f}s", flush=True)


def main() -> int:
    from sec_edgar_spark.session import builder
    import sec_edgar_spark.queries as Q

    only = [a for a in sys.argv[1:] if not a.startswith("--")]

    # UI on for job-group task metrics (the shared builder disables
    # it; the listener cost applies equally to both legs of a factor)
    spark = (
        builder(app_name="sf100-families")
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sec_edgar.longcents", "true")

    if not os.path.exists(os.path.join(SF10, "events.parquet")):
        print("uniform sf10 missing — run tools/sf10_bench.py first")
        return 1
    rebuild = "--rebuild" in sys.argv
    if rebuild or not os.path.exists(f"{SF100}/events.parquet"):
        build_sf100_events(spark)
    if rebuild or not os.path.exists(f"{SF100_SKEW}/events.parquet"):
        build_sf100_skew_events(spark)
    if rebuild or not os.path.exists(f"{SF100}/lineitem.parquet"):
        build_sf100_relational(spark)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    noop(spark.range(10000).mapInPandas(lambda it: it, "id long"))

    qs = Q.queries()
    legs = []
    for name in EVENT_PROBES:
        legs.append((name, "uniform", SF10, SF100))
        legs.append((name, "skew", SF10_SKEW, SF100_SKEW))
    for name in GRAPH_PROBES:
        legs.append((name, "uniform", SF10, SF100))
    if only:
        legs = [l for l in legs if l[0] in only]

    # untimed warmup: first probe of each family at its sf10 dir pays
    # codegen/JIT/page-cache for the whole family
    from tools.taskmetrics import GroupMetrics

    gm = GroupMetrics(spark)
    warmed = set()
    rows = []
    for name, variant, d10, d100 in legs:
        fn = qs[name]
        fam = name.split("_")[0]
        if fam not in warmed:
            print(f"  warmup (untimed): {name} @ sf10/{variant}", flush=True)
            noop(fn(spark, d10))
            warmed.add(fam)
        walls, tasks = {}, {}
        for label, d in (("sf10", d10), ("sf100", d100)):
            spark.catalog.clearCache()
            gid = f"fam:{name}:{variant}:{label}"
            spark.sparkContext.setJobGroup(gid, name)
            t0 = time.time()
            noop(fn(spark, d))
            spark.sparkContext.setJobGroup("", "")
            walls[label] = time.time() - t0
            # executor task-time per leg (tools/taskmetrics.py): the
            # wall/task split separates compute growth from local[32]
            # stage-scheduling latency in the decade factor
            tasks[label] = gm.task_time_s(gid)
            print(
                f"  {name} [{variant}] @ {label}: {walls[label]:.1f}s "
                f"task={tasks[label]} "
                f"(shuffle={spark.conf.get('spark.sql.shuffle.partitions')})",
                flush=True,
            )
        factor = walls["sf100"] / max(walls["sf10"], 1e-9)
        tf = (
            round(tasks["sf100"] / tasks["sf10"], 2)
            if tasks.get("sf10") and tasks.get("sf100")
            else None
        )
        rows.append(
            (name, variant, walls["sf10"], walls["sf100"], factor, tf)
        )

    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, cwd=REPO,
    ).stdout.strip()
    lines = [
        "# BENCH_SF100_FAMILIES — event windows + iterative graph at "
        "the third decade",
        "",
        f"Extends BENCH_SF100 (posting caps) to the heat-dispatched "
        f"event family (uniform AND Zipf-skew replicas — the hot user "
        f"grows 3M → ~30M rows across the decade) and the iterative "
        f"graph family.  Shuffle partitions are the ENGINE's "
        f"input-bytes rule (operators/stats.py), no per-run conf "
        f"— the printed per-leg partition counts are part of the "
        f"measurement.  local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}],"
        f" single timed run per (query, dir) after per-family untimed "
        f"warmup, noop sink; each leg also records job-group executor "
        f"task-time (tools/taskmetrics.py), so a wall factor above the "
        f"task factor reads as local[32] stage-scheduling latency, not "
        f"compute growth.  git {sha}, "
        f"loadavg {os.getloadavg()[0]:.1f}.",
        "",
        "| query | corpus | sf10 | sf100 | ×/decade wall | ×/decade "
        "task | note |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, variant, w10, w100, f_, tf in sorted(
        rows, key=lambda r: -r[4]
    ):
        lines.append(
            f"| {name} | {variant} | {w10:.1f}s | {w100:.1f}s | "
            f"{f_:.1f}x | {tf if tf is not None else '—'}x | "
            f"{ANNOTATIONS.get(name, '')} |"
        )
    worst = max((r[4] for r in rows), default=0)
    lines += [
        "",
        f"**Worst decade factor: {worst:.1f}× (bar: ≤ ~10×/decade; "
        f"materially above needs a named cause).**",
        "",
    ]
    with open(os.path.join(REPO, "BENCH_SF100_FAMILIES.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(REPO, "BENCH_SF100_FAMILIES.json"), "w") as fh:
        json.dump(
            {
                "git_sha": sha,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "rows": [
                    {
                        "query": n,
                        "corpus": v,
                        "sf10_s": round(a, 1),
                        "sf100_s": round(b, 1),
                        "factor": round(f_, 2),
                        "task_factor": tf,
                    }
                    for n, v, a, b, f_, tf in rows
                ],
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    print("-> BENCH_SF100_FAMILIES.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
