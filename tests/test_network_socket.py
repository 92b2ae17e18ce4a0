"""The network edge against REAL sockets (VERDICT r12 #6).

Every prior test of the rate-limited fetch (sources/filings.fetch_urls)
and the pagination loop (sources/company_listing.fetch_company_pages)
injected a fake transport; the executor-side HTTP path had never run
against an actual socket.  These tests stand up a local
ThreadingHTTPServer serving golden-fixture-shaped bodies plus injected
429/503 behaviors and drive the REAL paths end to end:

- executor-side HTTP inside mapPartitions (urllib in the task),
- ≤10 req/s conformance timed like the reference's
  secedgar/tests/test_client.py:178-195 (server-observed arrival
  buckets, not client-side bookkeeping),
- retry/backoff on injected 503s, per-row error capture on a hard 429,
- the sequential driver-side pagination loop over real GETs.

The server binds 127.0.0.1:0 (ephemeral port, no external traffic).
"""

from __future__ import annotations

import threading
import time
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

FILING_BODY = b"<SEC-DOCUMENT>0000320193-20-000010.txt\nreal enough\n"

PAGE_WITH_FILINGS = """<?xml version="1.0"?>
<companyFilings><results>{}</results></companyFilings>""".format(
    "\n".join(
        "<filing><dateFiled>2020-01-2{0}</dateFiled>"
        "<filingHREF>https://host/Archives/f{0}-index.htm</filingHREF>"
        "<formName>Quarterly report</formName><type>10-Q</type></filing>".format(i)
        for i in range(10)
    )
)
PAGE_EMPTY = (
    '<?xml version="1.0"?><companyFilings><results></results></companyFilings>'
)


class _Handler(BaseHTTPRequestHandler):
    # class-level shared state, reset per fixture
    hits: list[tuple[float, str]] = []
    flaky_counts: dict[str, int] = {}
    lock = threading.Lock()

    def log_message(self, *a):  # silence
        pass

    def do_GET(self):  # noqa: N802 (stdlib name)
        with _Handler.lock:
            _Handler.hits.append((time.monotonic(), self.path))
        parsed = urllib.parse.urlparse(self.path)
        if parsed.path.startswith("/doc/"):
            return self._send(200, FILING_BODY)
        if parsed.path == "/flaky":
            with _Handler.lock:
                n = _Handler.flaky_counts.get("flaky", 0)
                _Handler.flaky_counts["flaky"] = n + 1
            # two 503s, then success — inside the default retry budget
            return (
                self._send(503, b"try later")
                if n < 2
                else self._send(200, FILING_BODY)
            )
        if parsed.path == "/always429":
            return self._send(429, b"slow down")
        if parsed.path == "/cgi-bin/browse-edgar":
            q = urllib.parse.parse_qs(parsed.query)
            start = int(q.get("start", ["0"])[0])
            body = (PAGE_WITH_FILINGS if start < 20 else PAGE_EMPTY).encode()
            return self._send(200, body)
        return self._send(404, b"nope")

    def _send(self, status: int, body: bytes):
        self.send_response(status)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def server():
    _Handler.hits = []
    _Handler.flaky_counts = {}
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield srv
    finally:
        srv.shutdown()
        srv.server_close()


def _http_get_factory(port: int):
    """A REAL transport, shipped to executors by closure pickling."""

    def http_get(u: str):
        import urllib.error
        import urllib.request as ur

        try:
            with ur.urlopen(u, timeout=10) as r:
                return r.getcode(), r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    return http_get


def test_fetch_urls_real_socket_rate_conformance(spark, server):
    """25 URLs at 10 req/s must take >= 2 full pacing windows, and the
    SERVER must never observe more than 10 arrivals in any window —
    the reference's timed conformance (test_client.py:178-195), but
    measured at the socket, executor-side."""
    from sec_edgar_spark.sources.filings import fetch_urls

    port = server.server_address[1]
    # Warm the executor-side fetch path first (Python-worker imports,
    # thread-pool spin-up, first socket connect): a COLD first batch
    # delays its arrivals by ~0.4s, which compresses the observed
    # cluster-start gap below the pacing window even though the client
    # initiated the batches a full second apart (the contract under
    # test is initiation pacing, reference client.py:266-277).  The
    # warm-up hits a non-/doc/ path so the stamp filter excludes it.
    warm = spark.createDataFrame(
        [(f"http://127.0.0.1:{port}/warmup",)], "url string"
    )
    fetch_urls(warm, _http_get_factory(port), rate_limit=10).collect()
    urls = spark.createDataFrame(
        [(f"http://127.0.0.1:{port}/doc/{i}",) for i in range(25)], "url string"
    )
    t0 = time.monotonic()
    rows = fetch_urls(urls, _http_get_factory(port), rate_limit=10).collect()
    wall = time.monotonic() - t0
    assert len(rows) == 25
    assert all(r.status == 200 and r.content == FILING_BODY for r in rows)
    # 3 batches (10, 10, 5): the first two must each hold a full
    # 1-second budget window
    assert wall >= 2.0, f"25 urls at 10/s finished in {wall:.2f}s"
    # server-observed arrivals: cluster into pacing batches (gaps
    # > 0.5s separate them) — each batch must hold <= rate_limit
    # requests and consecutive batch STARTS must be >= ~1s apart
    # (0.95 tolerance for sleep/socket jitter; the pacing sleeps to
    # the 1s boundary client-side, reference client.py:266-277
    # semantics, so a strict server-side bucket can straddle it)
    stamps = sorted(ts for ts, p in _Handler.hits if p.startswith("/doc/"))
    assert len(stamps) == 25
    clusters = [[stamps[0]]]
    for ts in stamps[1:]:
        if ts - clusters[-1][-1] > 0.5:
            clusters.append([ts])
        else:
            clusters[-1].append(ts)
    sizes = [len(c) for c in clusters]
    assert sum(sizes) == 25
    # A straggler >0.5s INSIDE one client batch (seen under full-suite
    # load: [10, 7, 8]) splits a cluster; splitting only makes clusters
    # smaller, so the conformance bound "never more than rate_limit
    # arrivals in one burst" is robust where the exact [10, 10, 5]
    # shape was flaky.
    assert max(sizes) <= 10, sizes
    if sizes == [10, 10, 5]:
        # clean clustering: additionally check burst-start pacing
        gaps = [b[0] - a[0] for a, b in zip(clusters, clusters[1:])]
        assert all(g >= 0.95 for g in gaps), gaps
    # the sliding-window form of the same rule: any 11 consecutive
    # arrivals span at least one second
    spans = [stamps[i + 10] - stamps[i] for i in range(len(stamps) - 10)]
    assert min(spans) >= 1.0, spans


def test_fetch_urls_real_socket_retry_and_error_capture(spark, server):
    """Injected 503s retry through to success on the real socket; a
    hard 429 exhausts retries into a per-row error (never aborts the
    stage); healthy URLs in the same partition are unaffected."""
    from sec_edgar_spark.sources.filings import fetch_urls

    port = server.server_address[1]
    urls = spark.createDataFrame(
        [
            (f"http://127.0.0.1:{port}/flaky",),
            (f"http://127.0.0.1:{port}/always429",),
            (f"http://127.0.0.1:{port}/doc/ok",),
        ],
        "url string",
    )
    by_url = {
        r.url.rsplit("/", 1)[-1]: r
        for r in fetch_urls(
            urls, _http_get_factory(port), rate_limit=10, retry_count=3
        ).collect()
    }
    assert by_url["flaky"].status == 200
    assert by_url["flaky"].content == FILING_BODY
    assert by_url["flaky"].error is None
    assert _Handler.flaky_counts["flaky"] == 3  # 503, 503, 200
    assert by_url["always429"].content is None
    assert "rate limit" in by_url["always429"].error.lower() or "429" in (
        by_url["always429"].error
    )
    assert by_url["ok"].status == 200


def test_fetch_company_pages_real_socket_pagination(server):
    """The sequential driver-side pagination loop over real GETs:
    pages at start=0,10 carry 10 filings each, start=20 is empty —
    the loop must stop there and have asked for exactly those pages."""
    from sec_edgar_spark.sources.company_listing import fetch_company_pages

    port = server.server_address[1]

    def fetch_page(params: dict) -> str:
        qs = urllib.parse.urlencode(params)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/cgi-bin/browse-edgar?{qs}", timeout=10
        ) as r:
            return r.read().decode()

    pages = fetch_company_pages(fetch_page, "0000320193", batch_size=10)
    assert len(pages) == 3  # two full pages + the empty terminator
    starts = [
        int(
            urllib.parse.parse_qs(urllib.parse.urlparse(p).query)["start"][0]
        )
        for _, p in _Handler.hits
        if "browse-edgar" in p
    ]
    assert starts == [0, 10, 20]
    # count-bounded variant stops as soon as enough typed filings seen
    _Handler.hits.clear()
    pages = fetch_company_pages(
        fetch_page, "0000320193", filing_type="10-Q", count=15, batch_size=10
    )
    assert len(pages) == 2  # 10 + 10 >= 15, never fetches start=20
