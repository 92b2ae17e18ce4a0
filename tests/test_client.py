"""Client retry/backoff/validation parity (reference tests/test_client.py)."""

import pytest

from sec_edgar_spark.exceptions import EDGARQueryError
from sec_edgar_spark.sources.client import (
    ClientConfig,
    RATE_LIMIT_MESSAGE,
    backoff_seconds,
    get_with_retry,
    validate_response,
)


@pytest.mark.parametrize("user_agent", [None, 1, True, False])
def test_bad_user_agent(user_agent):
    with pytest.raises(TypeError):
        ClientConfig(user_agent=user_agent)


@pytest.mark.parametrize(
    "bad_retry_count,expectation",
    [(0.5, TypeError), ("2", TypeError), (-1, ValueError)],
)
def test_bad_retry_count(bad_retry_count, expectation):
    cfg = ClientConfig(user_agent="Name (email)")
    with pytest.raises(expectation):
        cfg.retry_count = bad_retry_count


@pytest.mark.parametrize("good_retry_count", range(10))
def test_good_retry_count(good_retry_count):
    cfg = ClientConfig(user_agent="Name (email)")
    cfg.retry_count = good_retry_count
    assert cfg.retry_count == good_retry_count


@pytest.mark.parametrize("bad", ["1", "1.0", "-1", "-1.0", [1, 2, 3]])
def test_bad_backoff_factor(bad):
    with pytest.raises(TypeError):
        ClientConfig(user_agent="Name (email)", backoff_factor=bad)


@pytest.mark.parametrize("good", [0, 0.5, 1, 1.5, 2])
def test_good_backoff_factor(good):
    assert ClientConfig(user_agent="Name (email)", backoff_factor=good)


@pytest.mark.parametrize("bad_rate", [0, -1, 11, 15])
def test_bad_rate_limit(bad_rate):
    with pytest.raises(ValueError):
        ClientConfig(user_agent="Name (email)", rate_limit=bad_rate)


@pytest.mark.parametrize(
    "bad_batch,expectation", [(0.5, TypeError), ("2", TypeError), (0, ValueError)]
)
def test_bad_batch_size(bad_batch, expectation):
    with pytest.raises(expectation):
        ClientConfig(user_agent="Name (email)", batch_size=bad_batch)


def test_429_returns_custom_message():
    with pytest.raises(EDGARQueryError) as e:
        validate_response(429, b"")
    assert "rate limit" in str(e.value)
    assert str(e.value) == RATE_LIMIT_MESSAGE


@pytest.mark.parametrize(
    "body",
    [
        "The value you submitted is not valid",
        "No matching Ticker Symbol.",
        "No matching CIK.",
        "No matching companies.",
    ],
)
def test_error_body_raises(body):
    with pytest.raises(EDGARQueryError):
        validate_response(200, ("<html>" + body + "</html>").encode())


def test_valid_body_passes():
    assert validate_response(200, b"<html>10-K filing</html>") is None


def test_backoff_schedule_matches_urllib3():
    # urllib3: 0 before the first retry, then factor * 2**(n-1).
    assert backoff_seconds(0.5, 1) == 0.0
    assert backoff_seconds(0.5, 2) == 1.0
    assert backoff_seconds(0.5, 3) == 2.0
    assert backoff_seconds(0.5, 4) == 4.0


def test_retry_then_success_counts_attempts():
    calls = []

    def flaky(url):
        calls.append(url)
        if len(calls) < 3:
            return 503, b""
        return 200, b"ok"

    slept = []
    status, content = get_with_retry(
        flaky, "u", retry_count=3, backoff_factor=1, sleep=slept.append
    )
    assert (status, content) == (200, b"ok")
    assert len(calls) == 3
    # Retries 1 and 2 fired; urllib3 schedule sleeps 0 then 2.
    assert slept == [2.0]


def test_retry_exhaustion_raises():
    calls = []

    def always_503(url):
        calls.append(url)
        return 503, b""

    with pytest.raises(EDGARQueryError):
        get_with_retry(always_503, "u", retry_count=2, sleep=lambda s: None)
    assert len(calls) == 3  # initial + 2 retries


def test_transport_exception_retried_then_raises():
    def broken(url):
        raise OSError("connection reset")

    with pytest.raises(EDGARQueryError):
        get_with_retry(broken, "u", retry_count=1, sleep=lambda s: None)


def test_429_exhaustion_gets_rate_limit_message():
    with pytest.raises(EDGARQueryError) as e:
        get_with_retry(
            lambda u: (429, b""), "u", retry_count=1, sleep=lambda s: None
        )
    assert "rate limit" in str(e.value)


def test_fetch_urls_records_errors_not_abort(spark):
    from sec_edgar_spark.sources.filings import fetch_urls

    def http_get(u):
        if u == "bad":
            return 503, b""
        if u == "invalid":
            return 200, b"No matching CIK."
        return 200, u.encode()

    urls = spark.createDataFrame([("ok",), ("bad",), ("invalid",)], ["url"])
    got = {
        r.url: r
        for r in fetch_urls(
            urls, http_get, retry_count=1, sleep=lambda s: None
        ).collect()
    }
    assert got["ok"].status == 200 and got["ok"].error is None
    assert got["bad"].content is None and "503" in got["bad"].error
    assert got["invalid"].content is None and "not valid" in got["invalid"].error


def test_paced_fetch_retry_storm_holds_rate_on_fake_clock():
    """20 URLs, each failing 3x before a 200, at rate_limit=10: all 80
    attempts (retries included) pass the pacer, so no 1-second window
    holds more than 10 attempt starts.  The clock only moves when the
    pacer sleeps, so the check is exact and needs no Spark."""
    import threading

    from sec_edgar_spark.sources.filings import paced_fetch

    now = [0.0]
    lock = threading.Lock()
    starts: list[float] = []
    fails: dict[str, int] = {}

    def clock():
        with lock:
            return now[0]

    def sleep(s):
        with lock:
            now[0] += s

    def http_get(u):
        with lock:
            starts.append(now[0])
            fails[u] = fails.get(u, 0) + 1
            n = fails[u]
        return (503, b"") if n <= 3 else (200, u.encode())

    rows = list(
        paced_fetch(
            [f"u{i}" for i in range(20)],
            http_get,
            rate_limit=10,
            retry_count=3,
            validate=False,
            sleep=sleep,
            clock=clock,
        )
    )
    assert [r.url for r in rows] == [f"u{i}" for i in range(20)]
    assert all(r.status == 200 and r.error is None for r in rows)
    assert len(starts) == 80
    starts.sort()
    spans = [starts[i + 10] - starts[i] for i in range(len(starts) - 10)]
    assert min(spans) >= 1.0, spans


def test_fetch_urls_batch_is_concurrent(spark):
    """10 slow (0.2s) responses per batch must complete in ~one
    latency, not 10 serial latencies (reference's aiohttp batch)."""
    import time as _time

    from sec_edgar_spark.sources.filings import fetch_urls

    def slow_get(u):
        # Stamp the request START into the payload: concurrency is then
        # provable from the collected rows alone, independent of Spark
        # scheduling/startup overhead (wall-clock asserts flake).
        start = _time.monotonic()
        _time.sleep(0.2)
        return 200, f"{start:.3f}".encode()

    urls = spark.createDataFrame([(f"u{i}",) for i in range(10)], ["url"])
    got = fetch_urls(urls, slow_get, rate_limit=10, retry_count=0).collect()
    assert len(got) == 10 and all(r.status == 200 for r in got)
    starts = sorted(float(r.content.decode()) for r in got)
    spread = starts[-1] - starts[0]
    # serial requests would spread starts over >= 9 * 0.2 = 1.8s; a
    # concurrent batch fires them all within one latency
    assert spread < 1.0, f"batch not concurrent: start spread {spread:.2f}s"
