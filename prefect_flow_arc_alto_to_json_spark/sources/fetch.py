"""Distributed document fetch (reference S2: one HTTP GET per file inside a
Node subprocess, js:24061-24063 — here a partition-parallel ``mapInPandas``
with bounded per-executor concurrency).

Failure model follows the 100 TB rule (SURVEY.md §7.4.5): a bad URL must
never kill the job. Each row gets either ``body`` or ``fetch_error`` — the
Spark twin of the reference's per-task exception capture
(flows/main_flow.py:59-63), but non-fatal and set-oriented. Errors come in
two kinds:

- FINAL errors answer the same way on every attempt, so the first answer
  is the row's result: an HTTP 4xx other than 408/425/429, a missing
  ``file://`` or bare path, a null URL. The transport marks the first
  two by returning a :class:`FinalError`.
- every other error is TRANSIENT and is retried with exponential backoff
  (``retries``, ``backoff_s``) inside the worker: connection and timeout
  errors, HTTP 5xx, HTTP 408/425/429. An injected fetcher's errors are
  transient unless it returns a :class:`FinalError`.

Two more layers keep a slow origin from stalling the stage:

- in-flight fetches per worker are clamped to ``max_concurrency`` (one
  bounded thread pool per partition iterator), so a slow origin cannot
  pile up unbounded sockets;
- every row has a HARD deadline (all attempts + backoff + margin): even a
  fetcher that ignores ``timeout_s`` entirely (a hung DNS lookup, a
  half-open socket) yields an error row instead of a stalled stage. The
  abandoned thread is left to the worker's lifecycle — the stage itself
  always completes.

Rows leave ``fetch_urls`` in COMPLETION order, not input order, across
input batches: the next input batch is read ahead whenever fewer than
``max_concurrency`` rows are in flight, so the pool stays busy at batch
boundaries and the parse downstream starts on the first documents while
the slow ones (and their retries) are still in flight.

Supported schemes: ``http(s)://`` via urllib (stdlib — no extra deps) and
``file://`` / bare paths for local corpora and tests.
"""

from __future__ import annotations

import contextlib
import queue
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from urllib.error import HTTPError

import pandas as pd

from pyspark.sql import DataFrame

#: (url, timeout_s) -> (body, error) — injectable for tests.
Fetcher = Callable[[str, float], tuple[str | None, str | None]]

#: HTTP statuses besides 5xx that a second attempt can change: request
#: timeout, too early, too many requests.
_RETRY_STATUSES = frozenset({408, 425, 429})


class FinalError(str):
    """A fetch error no second attempt can change (a 404, a missing file).
    A fetcher returns it in place of a plain ``str`` error; ``fetch_urls``
    then keeps the first answer instead of retrying."""


def _fetch_one(url: str, timeout: float) -> tuple[str | None, str | None]:
    try:
        if url is None:
            return None, "null url"
        if url.startswith("file://"):
            path = url[len("file://") :]
            with open(path, encoding="utf-8") as f:
                return f.read(), None
        if url.startswith(("http://", "https://")):
            from urllib.request import urlopen

            with urlopen(url, timeout=timeout) as resp:  # noqa: S310
                return resp.read().decode("utf-8"), None
        # bare local path
        with open(url, encoding="utf-8") as f:
            return f.read(), None
    except HTTPError as exc:
        err = f"{type(exc).__name__}: {exc}"
        if exc.code >= 500 or exc.code in _RETRY_STATUSES:
            return None, err
        return None, FinalError(err)
    except FileNotFoundError as exc:
        return None, FinalError(f"{type(exc).__name__}: {exc}")
    except Exception as exc:  # noqa: BLE001 — error column, never task death
        return None, f"{type(exc).__name__}: {exc}"


def fetch_urls(
    df: DataFrame,
    url_col: str = "premis_stored_at",
    max_concurrency: int = 8,
    timeout_s: float = 30.0,
    retries: int = 2,
    backoff_s: float = 0.5,
    fetcher: Fetcher | None = None,
) -> DataFrame:
    """Fetch every row's URL, appending ``body`` / ``fetch_error``.

    Scale: fan-out follows the input's partitions (e.g. 1000 partitions
    x 8 concurrent GETs); callers who need more spread repartition
    upstream. Within a partition a thread pool of ``max_concurrency``
    hides latency while Arrow batches keep serialization cheap.

    Output order: rows are emitted as their fetches complete, across
    input Arrow batches, so the JVM parse downstream works on early rows
    while slow ones are still in flight (a Python writer downstream sees
    whole Arrow batches). Whenever fewer than ``max_concurrency`` rows are
    in flight, the next input batch is read and submitted, so a slow row
    or a retry backoff holds up neither its batch's tail nor the batches
    after it. Row order is NOT part of the contract; each row keeps its
    own input columns.

    Failures: a transient error (connection or timeout, HTTP 5xx, HTTP
    408/425/429, any plain-``str`` error of an injected fetcher) is
    retried up to ``retries`` times after ``backoff_s * 2**attempt``
    seconds, and the error string then records the attempt count, so
    flaky origins stay visible in the error column. A :class:`FinalError`
    (any other HTTP 4xx, a missing ``file://`` or bare path) and a null
    URL are the row's result at the first answer.

    Stragglers are bounded by ``timeout_s`` AND a per-row hard deadline
    (all retry attempts + backoff + ``timeout_s`` margin) enforced from
    outside the fetch thread against the oldest unfinished row, counted
    from when the row before it finished or was abandoned — the clock a
    batch-ordered wait gives it. A fetch that ignores its timeout still
    resolves to a ``FetchDeadlineExceeded`` row, never a stalled stage.

    ``fetcher`` swaps the transport for tests (fault injection); production
    callers leave the stdlib default.
    """
    out_schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema)
    out_schema = f"{out_schema}, body string, fetch_error string"

    fetch = fetcher or _fetch_one
    total_backoff = sum(backoff_s * 2**a for a in range(retries))
    # hard per-row deadline: every attempt at its full timeout, all
    # backoff sleeps, plus one timeout_s of margin for scheduling
    hard_deadline = (retries + 1) * timeout_s + total_backoff + timeout_s
    deadline_row = (
        None,
        f"FetchDeadlineExceeded: no result within {hard_deadline:.1f}s hard deadline",
    )

    def fetch_with_retry(url: str) -> tuple[str | None, str | None]:
        attempt = 0
        while True:
            body, err = fetch(url, timeout_s)
            settled = err is None or url is None or isinstance(err, FinalError)
            if settled or attempt >= retries:
                if err is not None and attempt > 0:
                    err = f"{err} (after {attempt + 1} attempts)"
                return body, err
            time.sleep(backoff_s * 2**attempt)
            attempt += 1

    def fetch_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pool = ThreadPoolExecutor(max_workers=max_concurrency)
        done: queue.SimpleQueue = queue.SimpleQueue()
        pending: dict = {}  # future -> (input batch, row position), oldest first
        head, head_since = None, 0.0
        try:
            while True:
                # read ahead: keep the pool fed across input batch boundaries
                while len(pending) < max_concurrency:
                    pdf = next(it, None)
                    if pdf is None:
                        break
                    for i, u in enumerate(pdf[url_col]):
                        fut = pool.submit(fetch_with_retry, u)
                        pending[fut] = (pdf, i)
                        fut.add_done_callback(done.put)
                if not pending:
                    return
                oldest = next(iter(pending))
                if oldest is not head:
                    head, head_since = oldest, time.monotonic()
                finished = []
                with contextlib.suppress(queue.Empty):
                    wait_s = head_since + hard_deadline - time.monotonic()
                    finished.append(done.get(timeout=max(wait_s, 0.0)))
                    while True:
                        finished.append(done.get_nowait())
                # an abandoned row's thread may still finish: its row is out
                results = {f: f.result() for f in finished if f in pending}
                if head not in results and time.monotonic() >= head_since + hard_deadline:
                    results[head] = deadline_row
                by_batch: dict = {}  # id(input batch) -> (batch, positions, results)
                for f, r in results.items():
                    pdf, i = pending.pop(f)
                    _, rows, out = by_batch.setdefault(id(pdf), (pdf, [], []))
                    rows.append(i)
                    out.append(r)
                if by_batch:
                    yield pd.concat([
                        pdf.iloc[rows].assign(
                            body=[r[0] for r in out], fetch_error=[r[1] for r in out]
                        )
                        for pdf, rows, out in by_batch.values()
                    ])
        finally:
            # never wait: a hung fetch thread must not block the stage.
            pool.shutdown(wait=False, cancel_futures=True)

    return df.mapInPandas(fetch_batches, schema=out_schema)


from ..functions.selfship import self_ship  # noqa: E402

# Worker-executed closures above must never require this package on the
# executor's PYTHONPATH — ship them by value (see functions/selfship.py).
self_ship(__name__)
