"""High-watermark incremental processing (reference §2.9: Prefect
``get_last_run_config``/``save_last_run_config`` around the catalog scan,
flows/main_flow.py:29-30,114,129-130).

Exact-parity batch form: persist the watermark in a tiny single-row store,
filter ``updated_at >= since`` on the next run. The idiomatic streaming
form lives in streaming/pipeline.py (Trigger.AvailableNow + checkpoint).

The store is a JSON file under a directory (works on local FS and, via
Hadoop-compatible paths, on object stores when run on a cluster). Writes
are atomic (temp + rename) and the value only advances on successful runs —
mirroring the reference's ``on_completion`` hook semantics (only saved when
the flow succeeds).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class WatermarkStore:
    def __init__(self, directory: str) -> None:
        self.path = os.path.join(directory, "alto_pipeline.watermark.json")

    def load(self) -> str | None:
        """Last successful run's watermark value ('%Y-%m-%d' string), or
        None when no file exists yet: a first run (reference:
        get_last_run_config).

        A file that exists but holds no ``since`` string (truncated, or
        written by something else) raises ``ValueError``: reading it as a
        first run would drop the ``updated_at >= since`` predicate and
        select the whole catalog."""
        try:
            with open(self.path, encoding="utf-8") as f:
                text = f.read()
        except FileNotFoundError:
            return None
        try:
            since = json.loads(text)["since"]
        except (json.JSONDecodeError, KeyError, TypeError):
            since = None
        if not isinstance(since, str):
            raise ValueError(f"corrupt watermark file {self.path}: {text[:80]!r}")
        return since

    def save(self, value: str) -> None:
        """Persist the new watermark, a :func:`watermark_of` value; call
        only after every sink committed (reference: save_last_run_config
        on_completion)."""
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = f"{self.path}.tmp-{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"since": value}, f)
        os.replace(tmp, self.path)


def watermark_of(col: str = "updated_at") -> Column:
    """Aggregate: the date of ``max(col)`` as '%Y-%m-%d', the reference's
    format (flows/main_flow.py:130). Formatted inside Spark, so the date is
    the one in the session time zone, where :func:`incremental_filter`
    reads it the next night; a timestamp collected to Python would be
    converted in the driver process's local zone instead."""
    return F.date_format(F.max(col), "yyyy-MM-dd")


def incremental_filter(
    df: DataFrame,
    since: str | None,
    full_sync: bool = False,
) -> DataFrame:
    """``updated_at >= since`` predicate (flows/main_flow.py:29-30), skipped
    when ``full_sync`` or no watermark exists (:121). Parameterized — fixes
    the reference's injection-prone f-string splice.

    Scale: the predicate pushes down to the scan; with date-partitioned
    catalog storage it becomes partition pruning.
    """
    if full_sync or since is None:
        return df
    return df.where(F.col("updated_at") >= F.lit(since).cast("timestamp"))
