"""save_filings, the one filing-tree sink: files land in the
``{cik}/{type}/{accession_number}.txt`` pattern and the driver commits a
``_MANIFEST`` listing exactly the files of the successful tasks."""

import os

import pytest

from sec_edgar_spark.sources import _manifest
from sec_edgar_spark.sources.filings import _write_files, manifest_files, save_filings


def test_save_filings_two_phase(spark, tmp_path):
    root = str(tmp_path / "tree")
    df = spark.createDataFrame(
        [
            (320193, "10-K", "0000320193-96-000023", "apple body"),
            (789019, "10-Q", "0000789019-96-000040", "msft body"),
        ],
        "cik long, form_type string, accession_number string, content string",
    ).repartition(2)
    save_filings(df, root)

    apple = os.path.join(root, "320193", "10-K", "0000320193-96-000023.txt")
    msft = os.path.join(root, "789019", "10-Q", "0000789019-96-000040.txt")
    assert open(apple).read() == "apple body"
    assert open(msft).read() == "msft body"
    assert manifest_files(root) == sorted([apple, msft])
    # no tmp file outlives its os.replace
    on_disk = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
    assert sorted(on_disk) == sorted([apple, msft, os.path.join(root, "_MANIFEST")])


def test_save_filings_task_retry_orphans_excluded(tmp_path):
    """Exactly-once under task retry: a task attempt that dies AFTER
    writing files but BEFORE returning its paths leaves orphans on
    disk; only the successful attempts' paths reach the driver commit,
    so _MANIFEST — the reader view (manifest_files) — lists exactly the
    committed files.  Drives the per-partition write function the way
    Spark does: a failed attempt's result is discarded and the same
    rows are written again."""
    root = str(tmp_path / "tree")
    os.makedirs(root)

    def path(*parts):
        return os.path.join(root, *parts)

    t0 = [(path("1", "10-K", "acc-1.txt"), "a"), (path("1", "10-K", "acc-2.txt"), b"b")]
    t1 = [(path("2", "10-Q", "acc-3.txt"), bytearray(b"c"))]

    # uncommitted manifest read = failed write, loudly
    with pytest.raises(FileNotFoundError):
        manifest_files(root)

    # attempt 1 of task 0 writes its first file, then the executor dies
    # mid-iteration: no paths are ever returned
    class _Boom(RuntimeError):
        pass

    def poisoned():
        yield t0[0]
        raise _Boom("injected task failure")

    with pytest.raises(_Boom):
        _write_files(poisoned())
    orphan = path("1", "10-K", "acc-1.txt")
    assert os.path.exists(orphan)  # the orphan is on disk...

    # ...plus a zombie straggler from some long-dead attempt that the
    # retry will NOT rewrite (e.g. the task's row set was re-planned)
    zombie = path("1", "10-K", "zombie.txt")
    with open(zombie, "w") as fh:
        fh.write("stale")

    # the retry of task 0 rewrites the SAME rows and succeeds; task 1
    # succeeds first try; only their paths reach the commit
    _manifest.commit(root, sorted(_write_files(iter(t0)) + _write_files(iter(t1))))

    committed = manifest_files(root)
    assert committed == sorted(p for p, _ in t0 + t1)
    # the zombie exists on disk but is invisible to manifest readers
    assert os.path.exists(zombie) and zombie not in committed
    # deterministic paths: the retried file was replaced in place with
    # the same content, so the orphan IS the committed file
    assert open(orphan).read() == "a"
    assert open(path("2", "10-Q", "acc-3.txt"), "rb").read() == b"c"
