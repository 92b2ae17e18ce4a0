"""sf10 × Zipf-skew: the two r10 skew fixes at the second decade
(VERDICT r10 #4).

BENCH_SF1_SKEW measured the caps binding at sf1; BENCH_SF10 measured
the uniform replica at sf10 — never both at once.  A 3M-event hot key
is where one task's sort actually hurts, so this tool builds an sf10
Zipf replica (same recipe as tools/sf1_skew.py, applied to the uniform
sf10 replica: 30 % of all events → ONE hot user, 40 % of docs → ONE
hot source, 10-token Zipf head over ~10 % of the token stream;
relational/embeddings tables symlink the uniform sf10 files — vector
and block skew are covered by the sf1-skew and binding-cap probes) and
runs the skew-critical queries at sf10-uniform vs sf10-skew.

Probes: the operators the r10/r11 fixes target —

- events_attribution_capped (r10 capped lookback, r11 salted
  rank/as-of inside it): the uncapped twin DIED at sf1-skew; the
  capped one must hold a flat wall with a 3M-event hot user.
- events_sessionize_salted vs events_sessionize: the salted form's
  (user, bucket) cells vs the single window owning 3M rows in one
  task — the contrast row that prices the straggler.
- events_asof_join (r11 salted): same contrast vs its classic plan
  shape, via the bucket_s consumer.
- events_funnel_conversion (r10 O(n) frame fix): per-user window, hot
  user in one task but linear — must grow, boundedly.
- dedup_prefix_filter_capped / dedup_containment_capped: posting caps
  at second-decade posting heat.
- er_match_score_capped: block cap on the sf10 adversarial blocks
  (relational tables are the uniform sf10 replicas — already
  fixed-vocabulary-adversarial).

Reading: skew/uniform ≤ ~1.5× = the cap/salt binds; larger needs a
named answer-bound reason (hot keys can MEAN more real work).

Usage: python tools/sf10_skew.py [--rebuild] [query ...]
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
SKEW = os.path.join(REPO, "testdata_sf10_skew")

HOT_USER = 777_777
HOT_SOURCE = "hotdomain.example"

PROBES = [
    "events_attribution_capped",
    "events_sessionize_salted",
    "events_sessionize",
    "events_asof_join",
    "events_funnel_conversion",
    "events_markov_transitions",
    "window_moving_avg_salted",
    "events_session_entry_exit",
    "dedup_prefix_filter_capped",
    "dedup_containment_capped",
    "er_match_score_capped",
]

# r12: the event-window consumers are HEAT-DISPATCHED
# (operators/stats.py) — on the uniform sf10 replica the probe picks the
# plain single-window plan, on the skew replica (3M-row hot user) it
# picks the salted plan; the factor column therefore prices
# "plain-on-healthy vs salted-on-hot", exactly the production contract.
ANNOTATIONS = {
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
}


def build_skewed(spark) -> None:
    os.makedirs(SKEW, exist_ok=True)
    t0 = time.time()

    # events: re-pin 30 % of the UNIFORM sf10 events to one hot user
    # (hash keyed on event_id — deterministic, spans all replicas).
    ev = spark.read.parquet(f"{SF10}/events.parquet")
    ev.withColumn(
        "user_id",
        F.when(
            F.pmod(F.xxhash64("event_id"), F.lit(100)) < 30,
            F.lit(HOT_USER).cast("long"),
        ).otherwise(F.col("user_id")),
    ).repartition(16).write.mode("overwrite").parquet(f"{SKEW}/events.parquet")

    # documents: the sf1_skew token-head substitution on top of the
    # uniform sf10 docs (suffixed tokens hash uniformly, so the head
    # still absorbs ~10 % of the stream with doubling mass) + 40 % of
    # docs to one hot source.
    doc = spark.read.parquet(f"{SF10}/documents.parquet")

    def skew_token(t):
        h = F.pmod(F.xxhash64(t), F.lit(10000))
        r = F.floor(F.log2(h + F.lit(1))).cast("int")
        return F.when(
            h < 1000, F.concat(F.lit("h"), r.cast("string"))
        ).otherwise(t)

    headed = F.array_join(
        F.transform(
            F.filter(F.split("text", r"\s+"), lambda t: t != ""),
            skew_token,
        ),
        " ",
    )
    doc.select(
        "doc_id",
        headed.alias("text"),
        *[c for c in doc.columns if c not in ("doc_id", "text")],
    ).withColumn(
        "source",
        F.when(
            F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 4, F.lit(HOT_SOURCE)
        ).otherwise(F.col("source")),
    ).repartition(16).write.mode("overwrite").parquet(
        f"{SKEW}/documents.parquet"
    )

    # remaining tables: identical to uniform sf10 (relational blocks
    # are already adversarial there; vector skew is not a shuffle-key
    # property) — symlink, don't copy 1.4 GB.
    from sec_edgar_spark import catalog

    for t in catalog.TABLES:
        dst = f"{SKEW}/{t}.parquet"
        if os.path.exists(dst) or os.path.islink(dst):
            continue
        os.symlink(f"{SF10}/{t}.parquet", dst)
    print(f"sf10-skew built in {time.time() - t0:.0f}s -> {SKEW}", flush=True)

    evn = spark.read.parquet(f"{SKEW}/events.parquet")
    tot = evn.count()
    hot = evn.filter(F.col("user_id") == HOT_USER).count()
    print(f"  hot user: {hot:,}/{tot:,} events = {100*hot/tot:.1f}%", flush=True)
    dn = spark.read.parquet(f"{SKEW}/documents.parquet")
    dhot = dn.filter(F.col("source") == HOT_SOURCE).count()
    print(f"  hot source: {dhot:,}/{dn.count():,} docs", flush=True)


def main() -> int:
    from sec_edgar_spark.session import get_spark
    import sec_edgar_spark.queries as Q

    probes = [a for a in sys.argv[1:] if not a.startswith("--")] or PROBES

    spark = get_spark(app_name="sf10-skew-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sec_edgar.longcents", "true")

    if not os.path.exists(os.path.join(SF10, "documents.parquet")):
        print("uniform sf10 missing — run tools/sf10_bench.py first")
        return 1
    if "--rebuild" in sys.argv or not os.path.exists(
        os.path.join(SKEW, "documents.parquet")
    ):
        build_skewed(spark)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    noop(spark.range(10000).mapInPandas(lambda it: it, "id long"))
    from sec_edgar_spark import catalog

    for t in catalog.TABLES:
        catalog.table(spark, SF10, t).count()
        catalog.table(spark, SKEW, t).count()

    qs = Q.queries()
    rows = []
    for name in probes:
        fn = qs[name]
        walls = {}
        for label, d in (("uniform", SF10), ("skew", SKEW)):
            spark.catalog.clearCache()
            t0 = time.time()
            noop(fn(spark, d))
            walls[label] = time.time() - t0
        factor = walls["skew"] / max(walls["uniform"], 1e-9)
        rows.append((name, walls["uniform"], walls["skew"], factor))
        print(
            f"{name:35s} {walls['uniform']:8.2f}s {walls['skew']:8.2f}s "
            f"{factor:5.1f}x",
            flush=True,
        )

    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, cwd=REPO,
    ).stdout.strip()
    lines = [
        "# BENCH_SF10_SKEW — the skew fixes at the second decade",
        "",
        f"sf10-skew = the uniform sf10 replica with the sf1-skew Zipf "
        f"recipe re-applied: ONE user owns 30 % of 10M events "
        f"(~3M rows), ONE source owns 40 % of 500k docs, a 10-token "
        f"Zipf head absorbs ~10 % of the token stream.  Relational + "
        f"embedding tables are symlinks to uniform sf10 (identical "
        f"bytes).  local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}], "
        f"single timed run per (query, dir) after warmup, noop sink, "
        f"cache cleared per run.  git {sha}, loadavg "
        f"{os.getloadavg()[0]:.1f}.",
        "",
        "READING THE FACTOR COLUMN (r12): the event-window consumers "
        "are heat-dispatched, so the two columns run DIFFERENT plans "
        "by design — plain single-window on uniform (the probe finds "
        "no hot key; the salted Exchanges would be pure tax), salted "
        "two-level on skew (3M-row hot user).  A factor above 1 "
        "therefore prices 'healthy-fast vs hot-safe', NOT a "
        "regression; the hot key also carries genuinely more co-keyed "
        "work.  The same-corpus contrast that isolates the straggler "
        "is the sessionize pair ON THE SKEW COLUMN: plain "
        "events_sessionize vs forced-salted events_sessionize_salted "
        "over identical bytes.",
        "",
        "| query | sf10 uniform | sf10 skew | factor | note |",
        "|---|---|---|---|---|",
    ]
    for name, wu, wk, f_ in sorted(rows, key=lambda r: -r[3]):
        lines.append(
            f"| {name} | {wu:.2f}s | {wk:.2f}s | {f_:.1f}x | "
            f"{ANNOTATIONS.get(name, '')} |"
        )
    tu = sum(r[1] for r in rows)
    tk = sum(r[2] for r in rows)
    lines += [
        "",
        f"**Totals: {tu:.1f}s uniform → {tk:.1f}s skewed "
        f"({tk/max(tu,1e-9):.2f}×).**",
    ]
    with open(os.path.join(REPO, "BENCH_SF10_SKEW.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(REPO, "BENCH_SF10_SKEW.json"), "w") as fh:
        json.dump(
            {
                "git_sha": sha,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "queries": {
                    n: {"uniform": round(wu, 3), "skew": round(wk, 3)}
                    for n, wu, wk, _ in rows
                },
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    print("-> BENCH_SF10_SKEW.md / .json", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
