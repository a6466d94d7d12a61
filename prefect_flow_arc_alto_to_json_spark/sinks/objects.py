"""One-object-per-record JSON writer (reference S4+S7: one S3 object per
document, key = ``basename(url) + ".json"``, body pretty-printed with
2-space indent — flows/main_flow.py:141-147, js:24070-24072).

Spark's ``df.write.json`` writes one file per *partition*; the reference's
contract is one object per *record*. So this writer is a Dataset action:
a ``mapInArrow`` function driven by ``write.format("noop")``. It takes
Arrow batches (no pickled ``Row``s), and any ``observe()`` upstream fires
on it. The destination is pluggable:

- ``file`` scheme (default): local/NFS directory — used by tests.
- ``s3`` scheme: boto3 ``put_object`` behind an import-try. Exercised
  END-TO-END against a live moto S3 endpoint from executor workers in
  tests/test_object_sink_s3_live.py; fake-client tests keep covering
  key/byte semantics dependency-free.

``statements`` chain the reference's DB writes (flows/main_flow.py:94-103)
onto the same pass: after a partition's last object, each statement runs
in order over the partition's rows through ``sinks/jdbc.py:run_statement``,
one connection open at a time, so a row's DB writes commit only after its
object exists.

During its action the writer receives its input in Arrow batches of 32
rows (``WRITER_BATCH_ROWS``), not the session's 10,000: a partition's PUTs
start once its first 32 rows are parsed and overlap the fetches still in
flight, instead of waiting for the partition's last row.

Idempotence: PUT-by-key overwrites, so task retries are safe (same key →
same bytes), satisfying exactly-once-ish semantics under Spark's task
re-execution (SURVEY.md §7.4.4).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame

from ..functions.scale import scoped_conf
from .jdbc import run_statement

#: Arrow batch size during the writer's action. The first PUT waits for a
#: full batch, so a small one starts the PUTs a few fetches in; 32 rows of
#: pretty-printing and PUTs still outweigh a batch's Arrow overhead. The
#: action's fetch reads ahead across these small input batches
#: (sources/fetch.py), so its pool does not idle at every batch tail.
WRITER_BATCH_ROWS = "32"


def _pretty_json(json_str: str) -> str:
    """Re-serialize compact JSON with 2-space indent (JSON.stringify
    (..., null, 2) parity, js:24071)."""
    return json.dumps(json.loads(json_str), indent=2, ensure_ascii=False)


def _default_s3_client_factory():
    """Construct the real boto3 client — the ONLY piece that needs the
    dependency; everything else (key template, pretty-print, per-record
    PUT loop) is dependency-free and tested with an injected fake."""
    try:
        import boto3  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "s3:// target requires boto3; install it or use a file target"
        ) from exc
    return boto3.client("s3")


def write_json_objects(
    df: DataFrame,
    target: str,
    client_factory=None,
    statements: Sequence[tuple] = (),
) -> None:
    """Write each row's ``json`` as one object named ``s3_key`` (the two
    columns ``transform`` makes), then run ``statements`` for the
    partition's rows.

    ``target``: ``/local/dir`` or ``s3://bucket/prefix``.

    ``client_factory``: zero-arg callable returning an object with
    ``put_object(Bucket=, Key=, Body=)`` — defaults to a real boto3
    client; tests inject a fake so the whole s3 branch (bucket/prefix
    parsing, key templating, pretty-print, bytes encoding) runs without
    the dependency. The factory is invoked ONCE PER PARTITION on the
    executor (clients aren't picklable; factories are).

    ``statements``: ``(connection_factory, sql, param_cols)`` triples; the
    parameters are each row's ``param_cols`` values as Python objects.

    Scale: purely partition-parallel, no shuffle, no driver involvement;
    object-store throughput is the only limit (tune with ``repartition``
    upstream to control concurrent PUTs). Objects are written per Arrow
    batch of ``WRITER_BATCH_ROWS`` rows (or the partition's end), set for
    this action only; the statements run after the partition's last
    object.
    """
    if target.startswith("s3://"):
        bucket, _, prefix = target[len("s3://") :].partition("/")
        open_client = client_factory or _default_s3_client_factory

        def put(client, key: str, body: str) -> None:
            key = f"{prefix.rstrip('/')}/{key}" if prefix else key
            client.put_object(Bucket=bucket, Key=key, Body=body.encode("utf-8"))

    else:

        def open_client() -> None:
            os.makedirs(target, exist_ok=True)

        def put(_, key: str, body: str) -> None:
            # atomic-ish local put: temp + rename, idempotent by key
            final = os.path.join(target, key)
            tmp = f"{final}.tmp-{os.getpid()}"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(body)
            os.replace(tmp, final)

    param_cols = list(dict.fromkeys(c for _, _, cols in statements for c in cols))

    def write_partition(batches: Iterator) -> Iterator:
        client, written = open_client(), []
        for batch in batches:
            keys, docs = batch.column("s3_key").to_pylist(), batch.column("json").to_pylist()
            for key, doc in zip(keys, docs):
                put(client, key, _pretty_json(doc))
            if statements:
                written.append(batch.select(param_cols))
        for connection_factory, sql, cols in statements:
            params = (p for b in written for p in zip(*(b.column(c).to_pylist() for c in cols)))
            run_statement(connection_factory, sql, params)
        return iter(())  # no rows out: the noop write only drives the partitions

    out = df.select(*dict.fromkeys(["s3_key", "json", *param_cols]))
    writer = out.mapInArrow(write_partition, out.select("s3_key").schema)
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    with scoped_conf(df.sparkSession, batch_key, WRITER_BATCH_ROWS):
        writer.write.format("noop").mode("overwrite").save()


from ..functions.selfship import self_ship  # noqa: E402

# Worker-executed closures above must never require this package on the
# executor's PYTHONPATH — ship them by value (see functions/selfship.py).
self_ship(__name__)
