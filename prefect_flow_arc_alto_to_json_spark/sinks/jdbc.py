"""Keyed-UPDATE / parameterized-INSERT relational sinks.

The reference updates ``graph.representation.schema_transcript`` and inserts
into ``graph.schema_transcript_url`` one row at a time over per-row Postgres
connections (flows/main_flow.py:94-103). Spark's JDBC writer has no UPDATE
mode (SURVEY.md §4.3.2), so :func:`run_statement` runs a statement over any
DB-API connection factory: one connection, batched ``executemany``, one
commit, closed before the caller's next statement opens (two factories may
point at one single-writer sqlite file). The ``foreachPartition`` sinks
below call it per partition; the object writer (sinks/objects.py) calls it
inside its own Dataset action, after a partition's objects exist.

Tests exercise it with sqlite3; production would pass a psycopg2/pg8000
factory — the writer is driver-agnostic (paramstyle comes from the caller's
SQL template).

Idempotence (SURVEY.md §7.4.4): UPDATE-by-key is naturally idempotent under
task retry and rerun. An INSERT must skip rows already present:
``run_pipeline``'s URL insert is ``INSERT ... SELECT ?, ? WHERE NOT EXISTS
(...)`` (sqlite and Postgres, no unique constraint needed), so a retried
partition or a document replayed by the ``>=`` watermark adds no row.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame, Row

ConnectionFactory = Callable[[], Any]


def run_statement(
    connection_factory: ConnectionFactory,
    sql: str,
    params: Iterable[tuple],
    batch_size: int = 1000,
) -> None:
    """Run ``sql`` once per parameter tuple on one fresh connection:
    ``executemany`` per ``batch_size`` tuples, one commit at the end,
    rollback on error, and the connection always closed."""
    conn = connection_factory()
    try:
        cur = conn.cursor()
        batch: list[tuple] = []
        for p in params:
            batch.append(p)
            if len(batch) >= batch_size:
                cur.executemany(sql, batch)
                batch.clear()
        if batch:
            cur.executemany(sql, batch)
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def write_rows_dbapi(
    df: DataFrame,
    connection_factory: ConnectionFactory,
    sql: str,
    param_cols: list[str],
    batch_size: int = 1000,
) -> None:
    """Run ``sql`` for every row with parameters taken from ``param_cols``,
    one :func:`run_statement` (one connection, one transaction) per
    partition — the batched answer to the reference's connection-per-row
    loop."""

    def write_partition(rows: Iterator[Row]) -> None:
        run_statement(connection_factory, sql, (tuple(r) for r in rows), batch_size)

    df.select(*param_cols).foreachPartition(write_partition)


def write_keyed_updates(
    df: DataFrame,
    connection_factory: ConnectionFactory,
    table: str,
    set_col: str,
    key_col: str,
    placeholder: str = "?",
) -> None:
    """UPDATE ``table`` SET ``set_col`` = ? WHERE ``key_col`` = ?  — the
    reference's transcript write-back (flows/main_flow.py:95-97) as a
    batched distributed sink."""
    sql = (
        f"UPDATE {table} SET {set_col} = {placeholder} "  # noqa: S608
        f"WHERE {key_col} = {placeholder}"
    )
    write_rows_dbapi(df, connection_factory, sql, [set_col, key_col])


from ..functions.selfship import self_ship  # noqa: E402

# Worker-executed closures above must never require this package on the
# executor's PYTHONPATH — ship them by value (see functions/selfship.py).
self_ship(__name__)
