"""Tests of the benchmark's own pieces: the seeded EDGAR generator, its
ground truth, and the span arithmetic behind the per-layer table.

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import edgar_gen  # noqa: E402
from spans import Span, layer_table, self_times, sql_metric_value  # noqa: E402

SMALL = {"rows_per_quarter": 400, "containers": 25}


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, n), root) for d, _, ns in os.walk(root) for n in ns)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = tmp_path_factory.mktemp("edgar") / "seed3"
    truth = edgar_gen.generate(str(out), 3, **SMALL)
    return str(out), truth


def test_same_seed_gives_byte_identical_files(corpus, tmp_path):
    out, _ = corpus
    again = tmp_path / "again"
    edgar_gen.generate(str(again), 3, **SMALL)
    assert _files(out) == _files(str(again))
    _, mismatch, errors = filecmp.cmpfiles(out, str(again), _files(out), shallow=False)
    assert mismatch == [] and errors == []


def test_other_seed_gives_other_files(corpus, tmp_path):
    out, truth = corpus
    other = edgar_gen.generate(str(tmp_path / "seed4"), 4, **SMALL)
    idx = truth["index_files"][0]
    assert not filecmp.cmp(os.path.join(out, idx), str(tmp_path / "seed4" / idx), shallow=False)
    assert other["specs"] != truth["specs"]
    assert {f["accession"] for f in other["filings"]} != {f["accession"] for f in truth["filings"]}


def test_truth_file_matches_returned_truth(corpus):
    out, truth = corpus
    with open(os.path.join(out, "truth.json")) as fh:
        assert json.load(fh) == truth


def test_truth_matches_pure_python_parse(corpus):
    """Every container, parsed by the engine's plain-Python SGML parser,
    has the documents, uuencoded parts and Form 4 transactions the
    ground truth promises."""
    from sec_edgar_spark.parsing.meta import parse_filing

    out, truth = corpus
    by_acc = {f["accession"]: f for f in truth["filings"]}
    seen = set()
    total_bytes = 0
    for d, _, names in os.walk(os.path.join(out, "filings")):
        for n in names:
            with open(os.path.join(d, n)) as fh:
                content = fh.read()
            total_bytes += len(content.encode())
            parsed = parse_filing(content)
            want = by_acc[parsed["accession_number"]]
            seen.add(parsed["accession_number"])
            docs = parsed["documents"]
            assert parsed["metadata"]["CONFORMED SUBMISSION TYPE"] == "4"
            assert len(docs) == want["documents"]
            assert sum(d["is_uuencoded"] for d in docs) == want["uuencoded"]
            form4 = [d for d in docs if d["type"] == "4"]
            assert len(form4) == 1
            assert len(re.findall(r"<nonDerivativeTransaction>", form4[0]["text"])) == want["transactions"]
            shares = re.findall(r"<transactionShares><value>([^<]+)</value>", form4[0]["text"])
            assert str(sum(map(Decimal, shares))) == want["shares"]
    assert seen == set(by_acc)
    assert total_bytes == truth["filing_bytes"]
    assert sum(f["documents"] for f in truth["filings"]) == truth["documents"]


def test_index_files_hold_the_truth_rows(corpus):
    out, truth = corpus
    valid = re.compile(r"^[0-9]+[|].+[|].+[|][0-9\-]+[|].+$")
    rows = []
    for rel in truth["index_files"]:
        with open(os.path.join(out, rel)) as fh:
            rows += [line.rstrip("\n").split("|") for line in fh if valid.match(line)]
    assert len(rows) == truth["index_rows"]
    with open(os.path.join(out, truth["daily_file"])) as fh:
        assert sum(1 for line in fh if valid.match(line)) == truth["new_day_rows"]
    form10k = {}
    for cik, _, form, _, fname in rows:
        if form == "10-K":
            form10k.setdefault(int(cik), []).append(fname)
    assert truth["specs"]["form_10k"]["rows"] == sum(len(v) for v in form10k.values())
    assert truth["specs"]["form_10k"]["ciks"] == len(form10k)


def test_spec_digest_is_order_sensitive():
    a = edgar_gen.spec_digest({1: ["x", "y"], 2: ["z"]})
    assert a == edgar_gen.spec_digest({2: ["z"], 1: ["x", "y"]})
    assert a != edgar_gen.spec_digest({1: ["y", "x"], 2: ["z"]})


def _tree():
    """op(0-10) -> build(1-6) -> table(2-3); op -> collect(6-9);
    a second pass op(20-24) -> build(20-22)."""
    spans = [
        Span(0, None, "op:q", "op", 0.0, 10.0, pass_no=1, attrs={"layer": "queries"}),
        Span(1, 0, "q", "queries", 1.0, 6.0, pass_no=1, metrics={"jobs": 2, "task_s": 0.5}),
        Span(2, 1, "table", "catalog", 2.0, 3.0, pass_no=1, metrics={"jobs": 1, "task_s": 0.25, "scan_rows": 7}),
        Span(3, 0, "collect", "operators", 6.0, 9.0, pass_no=1,
             metrics={"jobs": 3, "stages": 4, "tasks": 9, "task_s": 2.0, "skew": 3.0, "shuffle_read_mb": 1.5}),
        Span(4, None, "op:q", "op", 20.0, 24.0, pass_no=2, attrs={"layer": "queries"}),
        Span(5, 4, "q", "queries", 20.0, 22.0, pass_no=2, metrics={"jobs": 1}),
        Span(6, None, "start", "session", 100.0, 107.5),
    ]
    return spans


def test_self_time_subtracts_direct_children_only():
    own = self_times([s for s in _tree() if s.pass_no == 1])
    assert own == pytest.approx({"op": 2.0, "queries": 4.0, "catalog": 1.0, "operators": 3.0})


def test_layer_table_from_spans():
    t = layer_table(_tree(), [1])
    assert t["session.start_s"] == pytest.approx(7.5)
    assert t["queries.build_s"] == pytest.approx(5.0)
    assert t["queries.build_jobs"] == 3  # the build span and the catalog call inside it
    assert t["queries.build_task_s"] == pytest.approx(0.75)
    assert t["catalog.table_s"] == pytest.approx(1.0)
    assert t["exec.s"] == pytest.approx(3.0)
    assert (t["exec.jobs"], t["exec.stages"], t["exec.tasks"]) == (3, 4, 9)
    assert t["scan.rows"] == 7
    assert t["shuffle.skew"] == 3.0
    assert t["shuffle.read_mb"] == pytest.approx(1.5)
    assert t["op.self_s"] == pytest.approx(2.0)
    both = layer_table(_tree(), [1, 2])
    assert both["queries.build_s"] == pytest.approx((5.0 + 2.0) / 2)
    assert both["op.self_s"] == pytest.approx((2.0 + 2.0) / 2)


@pytest.mark.parametrize(
    "text,value",
    [
        ("1,234", 1234.0),
        ("12.5 MiB", 12.5 * 2**20),
        ("total (min, med, max (stageId: taskId))\n1.5 s (10 ms, 0.2 s, 0.9 s (stage 3.0: task 7))", 1.5),
        ("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)", 0.25),
        ("", 0.0),
    ],
)
def test_sql_metric_value(text, value):
    assert sql_metric_value(text) == pytest.approx(value)


def test_trace_output_matches_benchmark_json():
    """A traced run prints exactly the per-layer metrics BENCHMARK.json
    declares, each with the declared unit."""
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    spans = _tree() + [Span(7, None, "op:q", "op", 30.0, 33.0, pass_no=0, attrs={"layer": "queries"})]
    pairs = [(10.0, 9.0), (9.5, 9.4), (9.0, 9.3)]
    got = run.per_layer_metrics(spans, [1], pairs, attempted=3, failed=0, peak_rss=2_000_000)
    assert {k: v["unit"] for k, v in got.items()} == declared
    assert got["trace.overhead_s"]["value"] == pytest.approx(0.1)  # median of 1.0, 0.1, -0.3
    assert got["trace.pass_s"]["value"] == pytest.approx(9.5)
    assert got["memory.peak_rss_mb"]["value"] == pytest.approx(2.0)


def test_rest_records_are_attributed_by_job_group():
    """Jobs go to the span whose job group ran them; a stage a later job
    reuses counts once, for the job that ran it; SQL nodes follow their
    execution's jobs."""
    from spans import attribute

    a = Span(0, None, "q", "queries", 0.0, 1.0, group="g-a")
    b = Span(1, None, "collect", "operators", 1.0, 2.0, group="g-b")
    jobs = [
        {"jobId": 0, "jobGroup": "g-a", "stageIds": [0]},
        {"jobId": 1, "jobGroup": "g-b", "stageIds": [0, 1]},
        {"jobId": 2, "jobGroup": "other", "stageIds": [2]},
    ]
    stages = [
        {"stageId": 0, "status": "COMPLETE", "numCompleteTasks": 4, "executorRunTime": 2000, "shuffleWriteBytes": 3e6},
        {"stageId": 1, "status": "COMPLETE", "numCompleteTasks": 2, "executorRunTime": 500, "shuffleReadBytes": 3e6},
        {"stageId": 2, "status": "COMPLETE", "numCompleteTasks": 9, "executorRunTime": 9000},
    ]
    sqls = [{"successJobIds": [1], "nodes": [
        {"nodeName": "Scan parquet ", "metrics": [{"name": "number of output rows", "value": "1,500"},
                                                  {"name": "size of files read", "value": "2.0 MiB"}]},
        {"nodeName": "MapInPandas", "metrics": [{"name": "number of output rows", "value": "7"}]},
    ]}]
    attribute([a, b], jobs, stages, sqls, {1: 2.5})
    assert (a.metrics["jobs"], a.metrics["stages"], a.metrics["tasks"]) == (1, 1, 4)
    assert a.metrics["task_s"] == pytest.approx(2.0)
    assert a.metrics["shuffle_write_mb"] == pytest.approx(3.0)
    assert (b.metrics["jobs"], b.metrics["stages"], b.metrics["tasks"]) == (1, 1, 2)
    assert b.metrics["reduce_tasks"] == 2 and b.metrics["skew"] == 2.5
    assert b.metrics["scan_rows"] == 1500 and b.metrics["scan_mb"] == pytest.approx(2.0 * 2**20 / 1e6)
    assert b.metrics["py_rows"] == 7
    assert a.metrics["scan_rows"] == 0


def test_traced_passes_are_paired_abba_after_the_warm_up():
    """Warm passes 1-2 are untraced warm-up; then traced/untraced in
    ABBA blocks, and each pair is (traced, untraced) seconds of two
    adjacent passes."""
    import run

    assert [run.traced_pass(i) for i in range(1, 11)] == [False, False, True, False, False, True, True, False, False, True]
    warm = [20.0, 15.0, 10.5, 10.0, 9.0, 9.4, 9.2, 9.0, 9.1]
    assert run.overhead_pairs(warm) == [(10.5, 10.0), (9.4, 9.0), (9.2, 9.0)]


def test_rss_sample_counts_the_tree_once():
    """A child running another program is counted; the sampler's own
    pid is left out."""
    import subprocess

    import rss

    child = subprocess.Popen(["sleep", "30"])
    try:
        total, procs = rss.sample(os.getpid())
        assert child.pid in procs and os.getpid() in procs
        assert total == sum(b for b, _ in procs.values())
        _, without = rss.sample(os.getpid(), skip=child.pid)
        assert child.pid not in without
    finally:
        child.kill()
        child.wait()
