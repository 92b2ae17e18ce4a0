"""The three workloads: what one pass runs, and how its outputs are checked.

A workload is a list of operations.  ``prepare`` writes the seeded
inputs afresh under ``.perfbench/inputs`` before the session starts
(untimed, well under a second); each operation is called as
``fn(spark, op_span)`` inside the timed pass (spans come from the
``spans.Tracer`` passed to ``ops``) and returns something
``check`` can verify after the passes; ``check_final`` verifies what
the last pass left on disk.  Engine modules are imported lazily, after
set-up has started the session.
"""

from __future__ import annotations

import os
import shutil
from decimal import Decimal

import edgar_gen
import tables

# Queries per pass.  Each is the shipped registry entry, run with no
# per-query hint.
DEDUP_LSH = [
    "dedup_minhash_lsh_pairs",
    "dedup_prefix_filter_capped",
]
# Runnable, but not in BENCHMARK.json: the run budget of a full
# regression check fits two workloads (see README.md).
ANALYTICS_MIX = [
    "q1_pricing_summary",
    "agg_trimmed_mean",
    "events_attribution_capped",
    "ml_kmeans_assign",
    "multimodal_audio_energy",
]


def _call(tracer, fn, layer, *args, **kwargs):
    """Call an engine function under a span named after it."""
    with tracer.span(fn.__name__, layer):
        return fn(*args, **kwargs)


class QueryWorkload:
    """Registry queries over a seeded copy of the sf0.01 tables; each is
    checked against its DuckDB ``oracle_sql()`` twin."""

    layer = "queries"

    def __init__(self, queries: list[str]):
        self.queries = queries

    def prepare(self, state: str, seed: int) -> None:
        self.sf_dir = tables.seeded_copy(os.path.join(state, "inputs", "tables"), seed)

    def reset(self) -> None:
        pass

    def ops(self, tracer):
        import __spark_entry__

        registry = __spark_entry__.queries()

        def op(name):
            def run(spark, _span):
                spark.catalog.clearCache()
                with tracer.span(name, "queries"):
                    df = registry[name](spark, self.sf_dir)
                with tracer.span("collect", "operators"):
                    return df.toPandas()

            return run

        return [(name, self.layer, op(name)) for name in self.queries]

    def check(self, results: list[tuple[int, str, object]]) -> dict[str, list[str]]:
        import __spark_entry__
        from tools.check_oracle import compare

        want = tables.expected(self.sf_dir, self.queries, __spark_entry__.oracle_sql())
        return {f"{p}:{name}": compare(name, got, want[name]) for p, name, got in results}

    def check_final(self) -> dict[str, list[str]]:
        return {}


class EdgarWorkload:
    """The paper's pipeline on generated EDGAR files: index scan and
    parquet mirror, four ``filings()`` specs, SGML parse, Form 4 parse,
    the patterned file-tree sink and a one-day mirror upsert."""

    def prepare(self, state: str, seed: int) -> None:
        self.src = os.path.join(state, "inputs", "edgar")
        shutil.rmtree(self.src, ignore_errors=True)
        self.truth = edgar_gen.generate(self.src, seed)
        self.work = os.path.join(state, "work")
        shutil.rmtree(self.work, ignore_errors=True)
        self.mirror = os.path.join(self.work, "mirror")
        self.docs = os.path.join(self.work, "documents")
        self.saved = os.path.join(self.work, "saved")

    def reset(self) -> None:
        shutil.rmtree(self.docs, ignore_errors=True)
        shutil.rmtree(self.saved, ignore_errors=True)

    def ops(self, tracer):
        from pyspark.sql import functions as F

        from sec_edgar_spark.parsing import form4, meta
        from sec_edgar_spark.plans import filings as plans
        from sec_edgar_spark.sources import filings as sink
        from sec_edgar_spark.sources import index

        t = self.truth
        idx_paths = [os.path.join(self.src, p) for p in t["index_files"]]
        glob = os.path.join(self.src, "filings", "*", "*.txt")

        def index_mirror(spark, _span):
            idx = _call(tracer, index.read_master_idx, "sources", spark, idx_paths)
            _call(tracer, index.to_parquet_mirror, "sources", idx, self.mirror)

        def spec(kwargs):
            def run(spark, span):
                mirror = spark.read.parquet(self.mirror)
                plan = _call(tracer, plans.filings, "plans", mirror, **kwargs)
                grouped = _call(tracer, plans.grouped_urls, "plans", plan)
                with tracer.span("collect", "operators"):
                    rows = grouped.collect()
                out = {r.cik: [u.rsplit("/", 1)[1][: -len(".txt")] for u in r.urls] for r in rows}
                span.attrs["rows_returned"] = sum(len(v) for v in out.values())
                return out

            return run

        def parse_documents(spark, _span):
            raw = _call(tracer, meta.read_filings, "parsing", spark, glob)
            parsed = _call(tracer, meta.parse_filings, "parsing", raw)
            docs = _call(tracer, meta.documents_table, "parsing", parsed)
            with tracer.span("write", "operators"):
                docs.write.mode("overwrite").parquet(self.docs)

        def form4_tx(spark, span):
            docs = spark.read.parquet(self.docs).filter(F.col("type") == "4")
            tx = _call(tracer, form4.parse_form4, "parsing", docs.select("accession_number", F.col("text").alias("xml")))
            with tracer.span("collect", "operators"):
                pdf = tx.toPandas()
            span.attrs["rows_returned"] = len(pdf)
            return pdf

        def save(spark, span):
            raw = _call(tracer, meta.read_filings, "parsing", spark, glob)
            acc = F.regexp_extract("path", r"([0-9]{10}-[0-9]{2}-[0-9]{6})\.txt$", 1)
            rows = spark.read.parquet(self.mirror).select("cik", "form_type", "date_filed", "accession_number")
            df = raw.select(acc.alias("accession_number"), "content").join(rows, "accession_number")
            _call(tracer, sink.save_filings, "sources", df, self.saved)
            if tracer.enabled:
                files, size = _tree_size(self.saved)
                span.attrs.update(files_written=files, bytes_written=size)

        def upsert_day(spark, _span):
            day = _call(tracer, index.read_master_idx, "sources", spark, os.path.join(self.src, t["daily_file"]))
            _call(tracer, index.upsert_parquet_mirror, "sources", day, self.mirror)

        return (
            [("index_mirror", "sources", index_mirror)]
            + [(f"filings_{name}", "plans", spec(kw)) for name, kw in edgar_gen.SPECS.items()]
            + [
                ("parse_documents", "parsing", parse_documents),
                ("form4", "parsing", form4_tx),
                ("save_filings", "sources", save),
                ("upsert_day", "sources", upsert_day),
            ]
        )

    def check(self, results: list[tuple[int, str, object]]) -> dict[str, list[str]]:
        t = self.truth
        out = {}
        for p, name, got in results:
            problems = []
            if name.startswith("filings_"):
                want = t["specs"][name[len("filings_"):]]
                seen = {"ciks": len(got), "rows": sum(len(v) for v in got.values()), "digest": edgar_gen.spec_digest(got)}
                problems = [f"{k}: got {seen[k]} want {want[k]}" for k in want if seen[k] != want[k]]
            elif name == "form4":
                per_acc = got.groupby("accession_number").size().to_dict()
                want_acc = {f["accession"]: f["transactions"] for f in t["filings"]}
                shares = sum((Decimal(str(v)) for v in got["transaction_shares"]), Decimal(0))
                if per_acc != want_acc:
                    problems.append(f"transactions per filing differ ({len(got)} rows, want {t['transactions']})")
                if shares != Decimal(t["shares"]):
                    problems.append(f"shares: got {shares} want {t['shares']}")
            out[f"{p}:{name}"] = problems
        return out

    def check_final(self) -> dict[str, list[str]]:
        """What the last pass left on disk, read back with pyarrow."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        t = self.truth
        out: dict[str, list[str]] = {"index_mirror": [], "upsert_day": [], "parse_documents": [], "save_filings": []}
        mirror = ds.dataset(self.mirror, format="parquet", partitioning="hive").to_table(columns=["year"])
        old = pc.sum(pc.less(mirror["year"], 2024)).as_py() or 0
        new = mirror.num_rows - old
        if old != t["index_rows"]:
            out["index_mirror"].append(f"mirror rows before the upsert day: got {old} want {t['index_rows']}")
        if new != t["new_day_rows"]:
            out["upsert_day"].append(f"upserted rows: got {new} want {t['new_day_rows']}")

        docs = ds.dataset(self.docs, format="parquet").to_table(columns=["accession_number", "is_uuencoded"]).to_pandas()
        per_acc = docs.groupby("accession_number").size().to_dict()
        if per_acc != {f["accession"]: f["documents"] for f in t["filings"]}:
            out["parse_documents"].append(f"documents per filing differ ({len(docs)} rows, want {t['documents']})")
        uu = int(docs["is_uuencoded"].sum())
        if uu != sum(f["uuencoded"] for f in t["filings"]):
            out["parse_documents"].append(f"uuencoded documents: got {uu}")

        files, size = _tree_size(self.saved)
        if (files, size) != (t["filing_count"], t["filing_bytes"]):
            out["save_filings"].append(f"saved files/bytes: got {files}/{size} want {t['filing_count']}/{t['filing_bytes']}")
        return out


def _tree_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".txt"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


WORKLOADS = {
    "edgar_etl": EdgarWorkload,
    "dedup_lsh": lambda: QueryWorkload(DEDUP_LSH),
    "analytics_mix": lambda: QueryWorkload(ANALYTICS_MIX),
}
