"""Fetch hardening (round-7 VERDICT item 7): retry-with-backoff, the
per-worker in-flight clamp, and the hard per-row deadline that makes a
hanging URL provably unable to fail the stage (SURVEY §7.4 risk 5).

Most faults are injected through fetch_urls' ``fetcher`` parameter. State
that must survive across retry attempts (attempt counters, the in-flight
gauge) lives in a mutable default argument: it is pickled empty with the
closure and materializes per Python worker, which is exactly the scope the
assertions need (retries happen in the worker that owns the row; the clamp
is a per-worker bound). The default transport's final-vs-transient
classification runs against a real HTTP origin on 127.0.0.1 (no network
beyond the loopback interface)."""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_alto_to_json_spark.functions.scale import scoped_conf
from prefect_flow_arc_alto_to_json_spark.sources.fetch import fetch_urls

_BATCH_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _urls_df(spark, n: int):
    return (
        spark.range(n)
        .select(F.concat(F.lit("synthetic://doc/"), F.col("id")).alias("url"))
        .coalesce(1)  # one worker: per-worker fault state covers every row
    )


def _flaky_fetcher(fail_first: int):
    """Fails each URL's first ``fail_first`` attempts, then succeeds."""

    def fetcher(url, timeout, _state={}):  # noqa: B006 — per-worker state
        seen = _state.setdefault("attempts", {})
        seen[url] = seen.get(url, 0) + 1
        if seen[url] <= fail_first:
            return None, f"ConnectionReset: attempt {seen[url]}"
        return f"body-of-{url}", None

    return fetcher


def test_fetch_retry_recovers_flaky_origin(spark):
    df = _urls_df(spark, 8)
    out = fetch_urls(
        df,
        url_col="url",
        fetcher=_flaky_fetcher(fail_first=2),
        retries=2,
        backoff_s=0.01,
        timeout_s=1.0,
    ).collect()
    assert len(out) == 8
    assert all(r["fetch_error"] is None for r in out)
    assert all(r["body"] == f"body-of-{r['url']}" for r in out)


def test_fetch_retry_exhaustion_records_attempt_count(spark):
    df = _urls_df(spark, 3)
    out = fetch_urls(
        df,
        url_col="url",
        fetcher=_flaky_fetcher(fail_first=99),
        retries=1,
        backoff_s=0.01,
        timeout_s=1.0,
    ).collect()
    assert all(r["body"] is None for r in out)
    # the error surfaces BOTH the underlying failure and the retry budget
    assert all("(after 2 attempts)" in r["fetch_error"] for r in out)
    assert all("ConnectionReset" in r["fetch_error"] for r in out)


def _clamp_fetcher(url, timeout, _state={}):  # noqa: B006 — per-worker state
    """Reports the peak number of concurrently in-flight fetches seen by
    this worker as the row's body."""
    import threading
    import time as _time

    st = _state.setdefault(
        "g", {"lock": threading.Lock(), "cur": 0, "peak": 0}
    )
    with st["lock"]:
        st["cur"] += 1
        st["peak"] = max(st["peak"], st["cur"])
    _time.sleep(0.15)  # hold the slot so overlap is observable
    with st["lock"]:
        peak = st["peak"]
        st["cur"] -= 1
    return str(peak), None


def test_fetch_inflight_clamped_to_max_concurrency(spark):
    df = _urls_df(spark, 12)
    out = fetch_urls(
        df, url_col="url", fetcher=_clamp_fetcher, max_concurrency=3,
        retries=0, timeout_s=5.0,
    ).collect()
    peaks = [int(r["body"]) for r in out]
    assert max(peaks) <= 3, f"in-flight exceeded the clamp: {peaks}"
    # the pool actually overlapped (the clamp is binding, not vacuous)
    assert max(peaks) > 1, peaks


def _hanging_fetcher(url, timeout):
    """Ignores its timeout entirely — the worst-case straggler (hung DNS,
    half-open socket). Only the hard deadline can bound this."""
    import time as _time

    if url.endswith(("/0", "/3")):
        _time.sleep(30)
        return "late", None
    return f"body-of-{url}", None


def test_fetch_hanging_url_cannot_stall_the_stage(spark):
    """Two hung rows: the first is abandoned one hard deadline after the
    stage starts, the second one deadline after that (its clock starts
    when the row before it resolved), while the healthy rows stream out
    in between. The stage never waits for the 30 s sleeps."""
    df = _urls_df(spark, 6)
    t0 = time.monotonic()
    out = fetch_urls(
        df,
        url_col="url",
        fetcher=_hanging_fetcher,
        retries=0,
        timeout_s=0.3,  # hard deadline = 2 * 0.3 = 0.6s per row
        max_concurrency=4,
    ).collect()
    elapsed = time.monotonic() - t0
    assert len(out) == 6
    by_url = {r["url"]: r for r in out}
    for u in ("synthetic://doc/0", "synthetic://doc/3"):
        assert by_url[u]["body"] is None
        assert "FetchDeadlineExceeded" in by_url[u]["fetch_error"]
    others = [r for u, r in by_url.items() if not u.endswith(("/0", "/3"))]
    assert len(others) == 4
    assert all(r["fetch_error"] is None and r["body"] == f"body-of-{r['url']}" for r in others)
    assert elapsed < 20.0, elapsed


def _reversing_fetcher(url, timeout):
    """Row i of 12 sleeps (12 - i) * 50 ms: completion order is the
    reverse of input order."""
    import time as _time

    i = int(url.rsplit("/", 1)[1])
    _time.sleep((12 - i) * 0.05)
    return f"body-of-{url}", None


def test_fetch_streams_rows_in_completion_order(spark):
    """Rows leave in completion order across several input Arrow batches,
    and every row keeps its own URL-body pairing: none lost, none
    duplicated."""
    with scoped_conf(spark, _BATCH_ROWS, "4"):  # 12 rows arrive as 3 input batches
        out = fetch_urls(
            _urls_df(spark, 12),
            url_col="url",
            fetcher=_reversing_fetcher,
            retries=0,
            max_concurrency=12,
        ).collect()
    urls = [r["url"] for r in out]
    assert sorted(urls) == sorted(f"synthetic://doc/{i}" for i in range(12))
    assert all(r["fetch_error"] is None and r["body"] == f"body-of-{r['url']}" for r in out)
    # row 0 sleeps longest: a batch-ordered fetch would emit it first
    assert urls[0] != "synthetic://doc/0", urls


def _slow_first_fetcher(url, timeout):
    """Row 0 sleeps 0.6 s, every other row 0.05 s."""
    import time as _time

    _time.sleep(0.6 if url.endswith("/0") else 0.05)
    return f"body-of-{url}", None


def test_fetch_reads_ahead_across_input_batches(spark):
    """While slow row 0 is in flight, the free pool slots take the rows of
    the next input batches, so a row of the third batch leaves before row
    0. A fetch that read the next batch only once every row of the current
    one had resolved would emit row 0 before any row of batches 2 and 3."""
    with scoped_conf(spark, _BATCH_ROWS, "4"):  # 12 rows arrive as 3 input batches
        out = fetch_urls(
            _urls_df(spark, 12),
            url_col="url",
            fetcher=_slow_first_fetcher,
            retries=0,
            max_concurrency=4,
        ).collect()
    urls = [r["url"] for r in out]
    assert sorted(urls) == sorted(f"synthetic://doc/{i}" for i in range(12))
    assert all(r["fetch_error"] is None and r["body"] == f"body-of-{r['url']}" for r in out)
    third_batch = {f"synthetic://doc/{i}" for i in range(8, 12)}
    assert third_batch & set(urls[: urls.index("synthetic://doc/0")]), urls


class _FaultOrigin:
    """Local HTTP origin on an ephemeral 127.0.0.1 port. Counts GETs per
    path and answers by path prefix: ``/missing/`` 404, ``/flaky/`` 503
    then 200, ``/throttled/`` 429 then 200, anything else 200."""

    def __init__(self) -> None:
        self.gets: dict[str, int] = {}
        self.lock = threading.Lock()
        origin = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args) -> None:
                pass

            def do_GET(self) -> None:  # noqa: N802
                with origin.lock:
                    n = origin.gets[self.path] = origin.gets.get(self.path, 0) + 1
                status = 200
                if self.path.startswith("/missing/"):
                    status = 404
                elif self.path.startswith("/flaky/") and n == 1:
                    status = 503
                elif self.path.startswith("/throttled/") and n == 1:
                    status = 429
                body = f"<alto>{self.path}</alto>".encode() if status == 200 else b""
                self.send_response(status)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()


@pytest.fixture()
def origin():
    o = _FaultOrigin()
    yield o
    o.close()


def _fetch_http(spark, origin, path: str):
    df = spark.createDataFrame([(origin.url + path,)], "url string")
    (row,) = fetch_urls(df, url_col="url", retries=2, backoff_s=0.01, timeout_s=5.0).collect()
    return row


def test_http_404_is_final_at_first_answer(spark, origin):
    row = _fetch_http(spark, origin, "/missing/a.xml")
    assert origin.gets == {"/missing/a.xml": 1}
    assert row["body"] is None
    assert row["fetch_error"].startswith("HTTPError: HTTP Error 404")
    assert "attempts)" not in row["fetch_error"]


@pytest.mark.parametrize("path", ["/flaky/b.xml", "/throttled/c.xml"])
def test_http_transient_status_is_retried_and_recovers(spark, origin, path):
    """A 503 and a 429 are retried; the second GET's 200 is the row."""
    row = _fetch_http(spark, origin, path)
    assert origin.gets == {path: 2}
    assert row["fetch_error"] is None
    assert row["body"] == f"<alto>{path}</alto>"


def test_missing_file_is_final_at_first_answer(spark, tmp_path):
    df = spark.createDataFrame([(f"file://{tmp_path}/absent.xml",)], "url string")
    (row,) = fetch_urls(df, url_col="url", retries=2, backoff_s=0.01).collect()
    assert row["body"] is None
    assert row["fetch_error"].startswith("FileNotFoundError")
    assert "attempts)" not in row["fetch_error"]


def test_injected_fetcher_final_error_is_not_retried(spark):
    """An injected fetcher's errors stay retryable unless it returns a
    FinalError."""
    from prefect_flow_arc_alto_to_json_spark.sources.fetch import FinalError

    def fetcher(url, timeout, _state={}):  # noqa: B006 — per-worker state
        _state[url] = _state.get(url, 0) + 1
        return None, FinalError(f"Gone: attempt {_state[url]}")

    out = fetch_urls(
        _urls_df(spark, 3), url_col="url", fetcher=fetcher, retries=2, backoff_s=0.01
    ).collect()
    assert sorted(r["fetch_error"] for r in out) == ["Gone: attempt 1"] * 3
