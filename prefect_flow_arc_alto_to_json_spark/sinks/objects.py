"""One-object-per-record JSON writer (reference S4+S7: one S3 object per
document, key = ``basename(url) + ".json"``, body pretty-printed with
2-space indent — flows/main_flow.py:141-147, js:24070-24072).

Spark's ``df.write.json`` writes one file per *partition*; the reference's
contract is one object per *record*, so this is a ``foreachPartition``
writer (SURVEY.md §4.3.3). The destination is pluggable:

- ``file`` scheme (default): local/NFS directory — used by tests.
- ``s3`` scheme: boto3 ``put_object`` behind an import-try. Exercised
  END-TO-END against a live moto S3 endpoint from executor workers in
  tests/test_object_sink_s3_live.py (round 8 — the container now ships
  boto3+moto); fake-client tests keep covering key/byte semantics
  dependency-free.

Idempotence: PUT-by-key overwrites, so task retries are safe (same key →
same bytes), satisfying exactly-once-ish semantics under Spark's task
re-execution (SURVEY.md §7.4.4).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row


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
    key_col: str = "s3_key",
    json_col: str = "json",
    client_factory=None,
) -> None:
    """Write each row's ``json_col`` as one object named ``key_col``.

    ``target``: ``/local/dir`` or ``s3://bucket/prefix``.

    ``client_factory``: zero-arg callable returning an object with
    ``put_object(Bucket=, Key=, Body=)`` — defaults to a real boto3
    client; tests inject a fake so the whole s3 branch (bucket/prefix
    parsing, key templating, pretty-print, bytes encoding) runs without
    the dependency. The factory is invoked ONCE PER PARTITION on the
    executor (clients aren't picklable; factories are).

    Scale: purely partition-parallel, no shuffle, no driver involvement;
    object-store throughput is the only limit (tune with ``repartition``
    upstream to control concurrent PUTs).
    """
    is_s3 = target.startswith("s3://")
    if is_s3:
        bucket_and_prefix = target[len("s3://") :]
        bucket, _, prefix = bucket_and_prefix.partition("/")
        factory = client_factory or _default_s3_client_factory

        def write_partition(rows: Iterator[Row]) -> None:
            client = factory()
            for row in rows:
                body = _pretty_json(row[json_col])
                key = f"{prefix.rstrip('/')}/{row[key_col]}" if prefix else row[key_col]
                client.put_object(Bucket=bucket, Key=key, Body=body.encode("utf-8"))

    else:

        def write_partition(rows: Iterator[Row]) -> None:
            os.makedirs(target, exist_ok=True)
            for row in rows:
                body = _pretty_json(row[json_col])
                # atomic-ish local put: temp + rename, idempotent by key
                final = os.path.join(target, row[key_col])
                tmp = f"{final}.tmp-{os.getpid()}"
                with open(tmp, "w", encoding="utf-8") as f:
                    f.write(body)
                os.replace(tmp, final)

    df.select(key_col, json_col).foreachPartition(write_partition)


from ..functions.selfship import self_ship  # noqa: E402

# Worker-executed closures above must never require this package on the
# executor's PYTHONPATH — ship them by value (see functions/selfship.py).
self_ship(__name__)
