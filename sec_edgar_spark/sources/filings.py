"""Filing-blob source + the patterned file-tree sink (SURVEY §2.1 S11-S14).

The reference's network path (async aiohttp fetch under a ≤10 req/s
global rate limit, client.py:221-277) is deliberately isolated here:

- **Mirror path (the scale path)**: filings already on storage load via
  ``binaryFile`` — at 100 TB this is the only sane mode, and every test
  runs against it.
- **Live-fetch stage**: ``fetch_urls`` runs HTTP GETs inside
  ``mapPartitions``.  A 10 req/s *global* cap makes cluster parallelism
  pointless (SURVEY §7 risk 1), so the live stage coalesces to ONE
  partition and paces every request attempt, retries included, with
  a token pool (``Pacer``) — still expressed as a DataFrame transform.
  Tests inject a fake ``http_get`` and, for the pacing rule, a fake
  clock.
- **Sink**: ``save_filings`` writes the ``{cik}/{type}/…`` tree with the
  two-phase contract of sources/_manifest.py — tasks write and report
  their files, the driver commits ``_MANIFEST`` once the job succeeded,
  and ``manifest_files`` is the reader view.
"""

from __future__ import annotations

import heapq
import os
import threading
import time
from collections import deque
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import _manifest

FETCH_RESULT = StructType(
    [
        StructField("url", StringType()),
        StructField("status", LongType()),
        StructField("content", BinaryType()),
        StructField("error", StringType()),
    ]
)


class Pacer:
    """Per-attempt request budget shared by one task's fetch threads.

    Attempt *i* may start only one second after attempt
    *i − limit* has completed: each of ``limit`` tokens is held from an
    attempt's start until one second after its completion.  Every
    server-side arrival lies between its attempt's start and
    completion, so any ``limit + 1`` arrivals span at least one second
    — the bound holds at the server, retries included, not only in the
    client's bookkeeping.  ``clock`` and ``sleep`` are injectable so the
    rule is testable on a fake clock.
    """

    def __init__(
        self,
        limit: int,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self._free = [float("-inf")] * limit  # min-heap of token-ready times
        self._cv = threading.Condition()
        self._turn = threading.Lock()  # one waiter sleeps at a time, FIFO
        self._clock, self._sleep = clock, sleep

    def acquire(self) -> None:
        with self._turn:
            with self._cv:
                while not self._free:
                    self._cv.wait()
                ready = heapq.heappop(self._free)
            wait = ready - self._clock()
            if wait > 0:
                self._sleep(wait)

    def release(self) -> None:
        done = self._clock()
        with self._cv:
            heapq.heappush(self._free, done + 1.0)
            self._cv.notify()


def paced_fetch(
    urls: Iterable[str],
    http_get: Callable[[str], tuple[int, bytes]],
    rate_limit: int = 10,
    retry_count: int = 3,
    backoff_factor: float = 0,
    validate: bool = True,
    sleep: Callable[[float], None] = time.sleep,
    clock: Callable[[], float] = time.monotonic,
) -> Iterator[Row]:
    """The executor side of ``fetch_urls``: ``rate_limit`` threads, every
    ``http_get`` attempt (retries included) through one ``Pacer``.
    Yields one result row per URL, in input order."""
    from ..exceptions import EDGARQueryError
    from .client import get_with_retry

    pacer = Pacer(rate_limit, clock=clock, sleep=sleep)

    def paced_get(u: str) -> tuple[int, bytes]:
        pacer.acquire()
        try:
            return http_get(u)
        finally:
            pacer.release()

    def fetch_one(u: str) -> Row:
        try:
            status, content = get_with_retry(
                paced_get,
                u,
                retry_count=retry_count,
                backoff_factor=backoff_factor,
                validate=validate,
                sleep=sleep,
            )
            return Row(url=u, status=status, content=content, error=None)
        except EDGARQueryError as exc:
            return Row(url=u, status=None, content=None, error=str(exc))

    # Concurrent threads (the reference's aiohttp batch,
    # client.py:266-277): a serial loop would cap throughput at
    # 1/latency req/s, not rate_limit req/s, the moment EDGAR responses
    # are slower than 1/rate_limit seconds.
    with ThreadPoolExecutor(max_workers=rate_limit) as pool:
        pending: deque = deque()
        for u in urls:
            pending.append(pool.submit(fetch_one, u))
            # bounded look-ahead: the threads stay busy while results
            # leave in input order, without queueing the whole partition
            if len(pending) > 2 * rate_limit:
                yield pending.popleft().result()
        while pending:
            yield pending.popleft().result()


def fetch_urls(
    urls: DataFrame,
    http_get: Callable[[str], tuple[int, bytes]],
    rate_limit: int = 10,
    retry_count: int = 3,
    backoff_factor: float = 0,
    validate: bool = True,
    sleep: Callable[[float], None] = time.sleep,
) -> DataFrame:
    """Rate-limited, retrying fetch stage over a one-column ``url``
    DataFrame.

    Reference semantics: at most ``rate_limit`` requests per wall-clock
    second, globally (client.py:123-129, 266-277; ValueError above 10),
    each request passing through Retry(retry_count, backoff_factor,
    raise_on_status=True) + EDGAR response validation
    (client.py:154-205).  Implemented as a single-partition
    mapPartitions over ``paced_fetch`` — the global budget cannot be
    shared across executors, and at ≤10 req/s one task IS the
    throughput ceiling.  The budget is spent per attempt: a retry takes
    a token like a first request does.

    A URL that exhausts its retries or fails validation is NOT allowed
    to kill the whole job (at scale one poisoned URL out of millions
    must not abort the stage): it yields a row with ``content=NULL``
    and the ``EDGARQueryError`` text in ``error``.  Callers wanting the
    reference's raise-on-first-failure behavior filter
    ``error IS NOT NULL`` and raise driver-side.
    """
    if rate_limit > 10:
        raise ValueError("rate_limit must be ≤ 10 (EDGAR fair-access policy)")

    def run(rows: Iterator[Row]) -> Iterator[Row]:
        return paced_fetch(
            (row.url for row in rows),
            http_get,
            rate_limit=rate_limit,
            retry_count=retry_count,
            backoff_factor=backoff_factor,
            validate=validate,
            sleep=sleep,
        )

    return urls.select("url").coalesce(1).rdd.mapPartitions(run).toDF(FETCH_RESULT)


def save_filings(
    df: DataFrame,
    directory: str,
    dir_pattern: str = "{cik}/{type}",
    file_pattern: str = "{accession_number}",
) -> None:
    """S13 patterned file-tree sink (daily.py:134-166 etc.), two-phase.

    Builds the save path as a codegen'd expression (C13).  One job, no
    driver loop: each task writes its rows' files (tmp + ``os.replace``)
    and returns their paths; only after every task succeeded does the
    driver commit ``<directory>/_MANIFEST`` listing exactly those files
    (sources/_manifest.py).  ``content`` may be bytes (``binaryFile``)
    or str (written as UTF-8).
    """
    from ..functions.scalars import save_path

    cols = {
        "cik": F.col("cik"),
        "type": F.col("form_type"),
        "accession_number": F.col("accession_number"),
        "date": F.date_format("date_filed", "yyyyMMdd"),
        "year": F.year("date_filed").cast("string"),
        "quarter": F.quarter("date_filed").cast("string"),
    }
    needed = {
        name: col
        for name, col in cols.items()
        if "{" + name + "}" in dir_pattern + "/" + file_pattern
    }
    target = F.concat(
        F.lit(directory.rstrip("/") + "/"),
        save_path(dir_pattern, file_pattern + ".txt", **needed),
    )
    written = df.select(target, "content").rdd.mapPartitions(_write_files).collect()
    _manifest.commit(directory, sorted(set(written)))


def _write_files(rows: Iterable[tuple[str, bytes | str]]) -> list[str]:
    """Task side of ``save_filings``: write each (path, content) row,
    return the paths written.  A task attempt that dies here leaves its
    files on disk but never reaches the manifest."""
    written = []
    for path, content in rows:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _manifest.write_atomic(path, content)
        written.append(path)
    return written


def manifest_files(root: str) -> list[str]:
    """The committed files of a ``save_filings`` write — the
    all-or-nothing reader view.  Orphan files from failed or zombie
    task attempts may exist on disk but are never listed.  Raises
    FileNotFoundError when no commit has completed: a tree without a
    manifest is an uncommitted (failed) write."""
    with open(os.path.join(root, _manifest.MANIFEST)) as fh:
        return fh.read().splitlines()
