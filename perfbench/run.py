"""sec-spark benchmark: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload edgar_etl --seed 1 --seconds 45 --trace 0

Run from the repository root.  Phases:

1. prepare the seeded inputs (untimed, before the session exists);
2. set-up: import the engine, ``session.builder().getOrCreate()`` at
   ``local[nproc]`` with the shipped configuration, and a warm-up job;
3. one cold pass in the fresh session;
4. warm passes until ``--seconds`` have passed since the cold pass
   started (at least two);
5. untimed verification of every operation's output of every pass.

The peak RSS of the process tree (this process, the JVM and the Python
daemon) is sampled from /proc by a separate process (``rss.py``) from
the cold pass to the last warm pass, and reported over a fixed amount of
work: the cold pass and the first two warm passes.  The JVM heap keeps
growing as passes repeat, so a peak over the whole time window would
grow with the number of passes a run happens to fit.  Set-up is left
out because the launcher JVMs that ``spark-submit`` runs while the
session starts reach 0.5-1.9 GB each for a moment.

``--trace 1`` runs the same passes with the Spark UI on, times every
operation, engine call and action as a span under its own job group,
and prints the per-layer metrics instead.  After two untraced warm-up
passes, warm passes run in traced/untraced/untraced/traced blocks, and
the tracing overhead is the median of the paired differences (each
traced pass minus the untraced pass next to it) in the same session.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import Tracer, attach_rest_metrics, layer_table, patch  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIN_WARM, MAX_WARM = 2, 12
# Traced runs: untraced warm-up passes before the traced/untraced pairs.
TRACE_WARMUP = 2
# Per-layer metrics also reported for the cold pass, where the plan-time
# probes, file listing and codegen land.
COLD_LAYER_METRICS = ("queries.build_s", "queries.build_jobs", "queries.build_task_s", "exec.s", "parsing.list_s")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def start_session(root: str, trace: bool):
    """Set-up: engine import, session, warm-up job.  Returns the session
    and the (t0, t_session, t_end) timestamps."""
    t0 = time.perf_counter()
    sys.path.insert(0, root)
    import __spark_entry__  # noqa: F401 - the engine import is part of set-up
    from sec_edgar_spark import session

    b = session.builder(app_name="perfbench", master=f"local[{len(os.sched_getaffinity(0))}]")
    if trace:
        # The REST metrics need the UI; keep every job of the run.
        for key in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions"):
            b = b.config(key, "1000000")
        b = b.config("spark.ui.enabled", "true").config("spark.ui.port", "0")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(0, 100_000, numPartitions=8).selectExpr("sum(id)").collect()
    return spark, (t0, t1, time.perf_counter())


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def run_pass(spark, tracer, ops, pass_no: int, results: list, op_secs: dict) -> float:
    tracer.pass_no = pass_no
    t = time.perf_counter()
    for name, layer, fn in ops:
        t_op = time.perf_counter()
        with tracer.span(f"op:{name}", "op", layer=layer) as span:
            try:
                got = fn(spark, span)
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                got = e
        op_secs.setdefault(name, []).append(time.perf_counter() - t_op)
        results.append((pass_no, name, got))
    return time.perf_counter() - t


def traced_pass(i: int) -> bool:
    """Whether warm pass ``i`` (1-based) of a traced run is traced: after
    ``TRACE_WARMUP`` untraced passes, blocks of traced, untraced,
    untraced, traced passes, so neither side gets the earlier passes."""
    return i > TRACE_WARMUP and (i - TRACE_WARMUP - 1) % 4 in (0, 3)


def overhead_pairs(warm: list[float]) -> list[tuple[float, float]]:
    """(traced, untraced) seconds of each pair of adjacent warm passes
    after the warm-up."""
    pairs = []
    for i in range(TRACE_WARMUP, len(warm) - 1, 2):
        a, b = warm[i], warm[i + 1]
        pairs.append((a, b) if traced_pass(i + 1) else (b, a))
    return pairs


def start_rss() -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "rss.py"), str(os.getpid())],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )


def stop_rss(rss: subprocess.Popen) -> tuple[int, list]:
    out, _ = rss.communicate(timeout=60)
    got = json.loads(out.strip().splitlines()[-1])
    return got["peak"], got["top"]


def per_layer_metrics(spans, traced_passes: list[int], pairs: list[tuple[float, float]],
                      attempted: int, failed: int, peak_rss: int) -> dict:
    """The ``--trace 1`` metrics: the layer table of the traced warm
    passes, a few cold-pass figures, operation counts, peak memory and
    the tracing overhead (``pairs`` holds (traced, untraced) seconds of
    adjacent warm passes)."""
    table = layer_table(spans, traced_passes)
    table["memory.peak_rss_mb"] = peak_rss / 1e6
    cold_table = layer_table(spans, [0])
    for key in COLD_LAYER_METRICS:
        table[f"cold.{key}"] = cold_table[key]
    table["ops.attempted"] = attempted
    table["ops.failed"] = failed
    table["trace.pass_s"] = statistics.median(t for t, _ in pairs)
    table["trace.untraced_pass_s"] = statistics.median(u for _, u in pairs)
    table["trace.overhead_s"] = statistics.median(t - u for t, u in pairs)
    return {k: {"value": v, "unit": _unit(k)} for k, v in sorted(table.items())}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="sec-spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = args.trace == 1

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py")) and os.path.isdir(os.path.join(root, "sec_edgar_spark"))):
        print("perfbench: run from the repository root (no engine found here)", file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench")
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Scratch space of Spark, the JVM and Python stays inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(state, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()

    workload = WORKLOADS[args.workload]()
    workload.prepare(state, args.seed)

    spark, (t0, t1, t2) = start_session(root, trace)
    rss = None
    try:
        tracer = Tracer()
        tracer.add("start", "session", t0, t1)
        tracer.add("warmup", "session", t1, t2)
        if trace:
            from sec_edgar_spark import catalog

            tracer.bind(spark.sparkContext)
            patch(catalog, "table", "catalog", tracer)

        ops = workload.ops(tracer)
        results: list = []
        rss = start_rss()
        window = time.perf_counter()
        tracer.enabled = trace
        op_secs: dict[str, list[float]] = {}
        cold = run_pass(spark, tracer, ops, 0, results, op_secs)
        warm: list[float] = []
        need = TRACE_WARMUP + 4 if trace else MIN_WARM

        def more() -> bool:
            if len(warm) < need:
                return True
            if trace and (len(warm) - TRACE_WARMUP) % 2:
                return True  # finish the traced/untraced pair
            return len(warm) < MAX_WARM and time.perf_counter() - window < args.seconds

        while more():
            tracer.enabled = trace and traced_pass(len(warm) + 1)
            workload.reset()
            warm.append(run_pass(spark, tracer, ops, len(warm) + 1, results, op_secs))
            if len(warm) == MIN_WARM:
                rss.stdin.write("mark\n")
                rss.stdin.flush()
        tracer.enabled = False
        peak, top = stop_rss(rss)
        print("  peak memory by process: " + ", ".join(f"{name}[{pid}] {b / 1e6:.0f} MB" for pid, b, name in top), file=sys.stderr)

        if trace:
            time.sleep(1.0)  # let the listener bus drain into the REST store
            attach_rest_metrics(tracer.spans, spark.sparkContext)
            out = os.path.join(state, "trace", f"{args.workload}-seed-{args.seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as fh:
                json.dump([dataclasses.asdict(s) for s in tracer.spans], fh)
            print(f"  spans written to {os.path.relpath(out, root)}", file=sys.stderr)
    finally:
        if rss is not None and rss.poll() is None:
            rss.kill()
            rss.wait()
        stop_session(spark)

    problems = workload.check([r for r in results if not isinstance(r[2], Exception)])
    for p, name, got in results:
        if isinstance(got, Exception):
            problems[f"{p}:{name}"] = [f"raised {type(got).__name__}: {str(got).splitlines()[0][:300]}"]
    last = len(warm)
    for name, probs in workload.check_final().items():
        problems[f"{last}:{name}"] = problems.get(f"{last}:{name}", []) + probs
    failed = sorted(k for k, v in problems.items() if v)
    attempted = len(results)
    for k in failed:
        print(f"FAILED {k}: {'; '.join(problems[k])}", file=sys.stderr)
    for name, secs in op_secs.items():
        print(f"  {name:<34} cold {secs[0]:7.3f} s  warm median {statistics.median(secs[1:]):7.3f} s", file=sys.stderr)

    q1, med, q3 = quartiles(warm)
    print(
        f"perfbench {args.workload} seed={args.seed} setup_s={t2 - t0:.3f} cold_pass_s={cold:.3f} "
        f"pass_s={med:.3f} (q1={q1:.3f} q3={q3:.3f} n={len(warm)}: {' '.join(f'{w:.2f}' for w in warm)}) "
        f"peak_rss_mb={peak / 1e6:.1f} "
        f"failed_frac={len(failed) / attempted:.4f} ({len(failed)}/{attempted})"
    )
    if trace:
        traced = [i for i in range(1, len(warm) + 1) if traced_pass(i)]
        metrics = per_layer_metrics(tracer.spans, traced, overhead_pairs(warm), attempted, len(failed), peak)
    else:
        metrics = {
            "setup_s": {"value": t2 - t0, "unit": "s"},
            "cold_pass_s": {"value": cold, "unit": "s"},
            "pass_s": {"value": med, "unit": "s"},
        }
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith(("skew", "write_amp", "per_returned")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
