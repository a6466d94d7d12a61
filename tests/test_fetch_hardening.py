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

from prefect_flow_arc_alto_to_json_spark.sources.fetch import fetch_urls


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
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")  # 12 rows arrive as 3 input batches
    try:
        out = fetch_urls(
            _urls_df(spark, 12),
            url_col="url",
            fetcher=_reversing_fetcher,
            retries=0,
            max_concurrency=12,
        ).collect()
    finally:
        spark.conf.set(key, prev)
    urls = [r["url"] for r in out]
    assert sorted(urls) == sorted(f"synthetic://doc/{i}" for i in range(12))
    assert all(r["fetch_error"] is None and r["body"] == f"body-of-{r['url']}" for r in out)
    # row 0 sleeps longest: a batch-ordered fetch would emit it first
    assert urls[0] != "synthetic://doc/0", urls


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


def test_polite_fetch_paces_within_host(spark):
    """Per-host request starts must be >= per_host_interval_s apart, on a
    fully deterministic injected clock (concurrency=1 so the fake clock
    has a single writer)."""
    from prefect_flow_arc_alto_to_json_spark.sources.fetch import (
        fetch_urls_polite,
    )

    urls = [f"http://host-a.example/{i}" for i in range(4)] + [
        f"http://host-b.example/{i}" for i in range(4)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "premis_stored_at string")
    clock = {"t": 0.0}

    def fake_sleep(s):
        clock["t"] += s

    def fake_now():
        return clock["t"]

    def fake_fetch(url, timeout):
        return f"{clock['t']:.3f}", None

    out = fetch_urls_polite(
        df,
        per_host_interval_s=10.0,
        max_hosts_concurrency=1,
        n_host_buckets=1,
        fetcher=fake_fetch,
        sleep_fn=fake_sleep,
        time_fn=fake_now,
    ).collect()
    assert all(r["fetch_error"] is None for r in out)
    starts: dict[str, list[float]] = {}
    for r in out:
        host = r["premis_stored_at"].split("/")[2]
        starts.setdefault(host, []).append(float(r["body"]))
    assert set(starts) == {"host-a.example", "host-b.example"}
    for host, ts in starts.items():
        ts.sort()
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        assert all(g >= 10.0 - 1e-9 for g in gaps), (host, ts)


def test_polite_fetch_host_colocation(spark):
    """The repartition key (parse_url HOST) must land every URL of a host
    in exactly one partition — the property that makes a task-local
    timestamp a correct global rate limiter."""
    urls = [
        f"http://h{i % 5}.example/p/{i}" for i in range(50)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "premis_stored_at string")
    placed = (
        df.repartition(8, F.expr("parse_url(premis_stored_at, 'HOST')"))
        .select(
            F.expr("parse_url(premis_stored_at, 'HOST')").alias("host"),
            F.spark_partition_id().alias("pid"),
        )
        .groupBy("host")
        .agg(F.countDistinct("pid").alias("n_pids"))
        .collect()
    )
    assert len(placed) == 5
    assert all(r["n_pids"] == 1 for r in placed)


def test_polite_fetch_hosts_run_concurrently(spark):
    """With a host-pool > 1 the batch completes for every host even while
    one host's queue is long — no global serialization on errors either."""
    from prefect_flow_arc_alto_to_json_spark.sources.fetch import (
        fetch_urls_polite,
    )

    urls = [f"http://big.example/{i}" for i in range(20)] + [
        "http://small.example/only"
    ]
    df = spark.createDataFrame([(u,) for u in urls], "premis_stored_at string")
    clock = {"t": 0.0}
    out = fetch_urls_polite(
        df,
        per_host_interval_s=0.0,
        max_hosts_concurrency=4,
        n_host_buckets=1,
        fetcher=lambda u, t: (u, None),
        sleep_fn=lambda s: None,
        time_fn=lambda: clock["t"],
    ).collect()
    assert len(out) == 21
    assert all(r["body"] == r["premis_stored_at"] for r in out)


def test_polite_fetch_hung_host_cannot_stall_the_stage(spark):
    """fetch_urls' stall contract holds for the polite variant: a
    transport that ignores timeout_s resolves to error rows via the
    per-host-queue hard deadline; other hosts' rows still succeed."""
    from prefect_flow_arc_alto_to_json_spark.sources.fetch import (
        fetch_urls_polite,
    )

    def hanging_fetch(url, timeout):
        if "hang" in str(url):
            import time

            time.sleep(30)
        return str(url), None

    urls = [
        "http://ok.example/1",
        "http://hang.example/2",
        "http://ok.example/3",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "premis_stored_at string")
    out = fetch_urls_polite(
        df,
        per_host_interval_s=0.0,
        timeout_s=0.2,
        max_hosts_concurrency=4,
        n_host_buckets=1,
        fetcher=hanging_fetch,
    ).collect()
    by = {r["premis_stored_at"]: r for r in out}
    assert by["http://hang.example/2"]["fetch_error"].startswith(
        "FetchDeadlineExceeded"
    )
    assert by["http://ok.example/1"]["body"] == "http://ok.example/1"
    assert by["http://ok.example/3"]["fetch_error"] is None


def test_polite_fetch_port_variants_pace_as_one_host(spark):
    """Pacing keys on urlparse().hostname — the SAME semantics as the
    partitioner's parse_url(HOST) — so http://h/a and http://h:8080/b
    share one rate limit instead of racing on distinct netloc keys."""
    from prefect_flow_arc_alto_to_json_spark.sources.fetch import (
        fetch_urls_polite,
    )

    urls = [
        "http://h.example/a",
        "http://h.example:8080/b",
        "http://h.example/c",
        "http://h.example:9090/d",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "premis_stored_at string")
    clock = {"t": 0.0}

    def fake_sleep(s):
        clock["t"] += s

    out = fetch_urls_polite(
        df,
        per_host_interval_s=10.0,
        max_hosts_concurrency=1,
        n_host_buckets=1,
        fetcher=lambda u, t: (f"{clock['t']:.3f}", None),
        sleep_fn=fake_sleep,
        time_fn=lambda: clock["t"],
    ).collect()
    starts = sorted(float(r["body"]) for r in out)
    gaps = [b - a for a, b in zip(starts, starts[1:])]
    assert all(g >= 10.0 - 1e-9 for g in gaps), starts


def test_polite_fetch_deadline_sized_per_host_queue(spark):
    """ADVICE r8 (medium): the hard deadline must be sized to the HOST's
    own queue length, not the whole Arrow batch — a 1-URL hung host inside
    a 30-row batch resolves in ~(timeout + interval) + timeout, not
    ~len(batch) * timeout (hours at production defaults)."""
    import time

    from prefect_flow_arc_alto_to_json_spark.sources.fetch import (
        fetch_urls_polite,
    )

    def hanging_fetch(url, timeout):
        if "hang" in str(url):
            time.sleep(30)
        return str(url), None

    urls = ["http://hang.example/only"] + [
        f"http://ok.example/{i}" for i in range(30)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "premis_stored_at string")
    t0 = time.monotonic()
    out = fetch_urls_polite(
        df,
        per_host_interval_s=0.05,
        timeout_s=0.3,
        max_hosts_concurrency=4,
        n_host_buckets=1,
        fetcher=hanging_fetch,
    ).collect()
    elapsed = time.monotonic() - t0
    by = {r["premis_stored_at"]: r for r in out}
    assert by["http://hang.example/only"]["fetch_error"].startswith(
        "FetchDeadlineExceeded"
    )
    assert sum(1 for r in out if r["fetch_error"] is None) == 30
    # batch-sized deadline would be (0.35 * 31 + 0.3) ≈ 11.2 s; the
    # per-host-queue deadline is 0.65 s + ok-host pacing (~1.5 s)
    assert elapsed < 8.0, elapsed


def test_polite_fetch_hung_host_skipped_in_later_batches(spark):
    """ADVICE r8 (low): a host whose runner breached its deadline may
    still be running — later batches must NOT submit a second runner for
    it (politeness race) nor let it eat a pool slot; its rows error
    immediately with FetchHostHung."""
    import time

    from prefect_flow_arc_alto_to_json_spark.sources.fetch import (
        fetch_urls_polite,
    )

    def hanging_fetch(url, timeout):
        if "hang" in str(url):
            time.sleep(30)
        return str(url), None

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        urls = ["http://hang.example/1", "http://hang.example/2"]
        df = spark.createDataFrame(
            [(u,) for u in urls], "premis_stored_at string"
        )
        out = fetch_urls_polite(
            df,
            per_host_interval_s=0.0,
            timeout_s=0.2,
            max_hosts_concurrency=2,
            n_host_buckets=1,
            fetcher=hanging_fetch,
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    errs = sorted(r["fetch_error"].split(":")[0] for r in out)
    # one row hits the deadline live; the other (its own 1-row batch) is
    # skipped because the host is known-hung
    assert errs == ["FetchDeadlineExceeded", "FetchHostHung"], errs


def test_polite_fetch_case_variant_hosts_colocate_and_pace_as_one(spark):
    """ADVICE r8 (low): the partition key lowercases (lower(parse_url))
    to match the lowercased pacing key — http://Host/a and http://host/b
    must land in ONE partition and share ONE rate limit."""
    from prefect_flow_arc_alto_to_json_spark.sources.fetch import (
        fetch_urls_polite,
    )

    urls = [
        "http://H.example/a",
        "http://h.example/b",
        "http://H.EXAMPLE/c",
        "http://h.example/d",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "premis_stored_at string")
    placed = (
        df.repartition(8, F.expr("lower(parse_url(premis_stored_at, 'HOST'))"))
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .collect()
    )
    assert len(placed) == 1, "case variants must co-locate"
    clock = {"t": 0.0}

    def fake_sleep(s):
        clock["t"] += s

    out = fetch_urls_polite(
        df,
        per_host_interval_s=10.0,
        max_hosts_concurrency=1,
        n_host_buckets=1,
        fetcher=lambda u, t: (f"{clock['t']:.3f}", None),
        sleep_fn=fake_sleep,
        time_fn=lambda: clock["t"],
    ).collect()
    starts = sorted(float(r["body"]) for r in out)
    gaps = [b - a for a, b in zip(starts, starts[1:])]
    assert all(g >= 10.0 - 1e-9 for g in gaps), starts
