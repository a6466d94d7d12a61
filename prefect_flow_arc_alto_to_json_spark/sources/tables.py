"""Parquet table loaders for the testdata star schema (TESTDATA.md).

Thin by design: ``spark.read.parquet`` already gives vectorized scans, column
pruning and predicate pushdown; anything more would fight Catalyst.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..schemas import TESTDATA_TABLES


def read_events_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that also reads legacy TIMESTAMP(NANOS)
    events files: the one place that sets
    ``spark.sql.legacy.parquet.nanosAsLong``.

    Older testdata generations stored ts as TIMESTAMP(NANOS), whose footer
    a vanilla Spark 4 session rejects with PARQUET_TYPE_ILLEGAL. Only on
    that error is the conf set and the read repeated, so a µs file leaves
    the session as it found it. Once set the conf stays set: the lazy scan
    (and a stream, per microbatch) reads the footers again later.
    """
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        msg = str(exc)
        if "NANOS" not in msg and "Illegal Parquet type" not in msg:
            raise
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; scans stay pruned/pushed-down via Catalyst."""
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)
    df = read_events_parquet(spark, path)
    # Contract for every downstream consumer: ts is TIMESTAMP_NTZ whose
    # wall clock IS the event's UTC instant — the same thing DuckDB
    # sees for a naive parquet timestamp, so oracle comparisons are
    # session-timezone-independent (date_trunc/date_format/comparisons
    # all operate on the wall clock; epoch extraction goes through
    # functions.scalar.epoch_us, a pure wall-clock timestampdiff).
    # Three on-disk encodings normalize to it:
    #   µs TIMESTAMP(isAdjustedToUTC=false) → read as NTZ: as-is.
    #   TIMESTAMP(NANOS) + nanosAsLong → epoch-ns BIGINT: integer `div`
    #     to µs (NOT float /: ~1.7e18 exceeds double's 2^53 exact range)
    #     then timestampadd onto the NTZ epoch — wall-clock arithmetic,
    #     no session-tz dependency.
    #   µs TIMESTAMP(isAdjustedToUTC=true) → read as LTZ: rebuild NTZ
    #     from unix_micros the same way.
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            ),
        )
    elif isinstance(dt, TimestampType):
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, unix_micros(ts),"
                " TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            ),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def jdbc_catalog_scan(
    spark: SparkSession,
    jdbc_url: str,
    query: str | None = None,
    table: str | None = None,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 16,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """Postgres catalog scan (reference S1, flows/main_flow.py:15-44).

    Two delegation modes, matching the reference's ship-SQL-to-Postgres
    design exactly:

    - ``query=`` ships the statement verbatim (``option("query", ...)``) —
      the reference's behavior, where Postgres runs the whole relational
      computation and Spark sees only result rows;
    - ``table=`` reads the relation and lets Catalyst push filters and
      prune columns into the JDBC source, optionally split into
      ``num_partitions`` parallel range reads on ``partition_column``
      (the 100 TB form — the reference's single ``fetchall()`` cursor
      becomes N concurrent bounded reads).

    Exercised against a live database in tests/test_jdbc_live.py (Derby
    embedded, whose JDBC driver ships in pyspark's jars): all three modes,
    filter pushdown, and a write-back round trip.
    """
    reader = spark.read.format("jdbc").option("url", jdbc_url)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if query is not None:
        reader = reader.option("query", query)
    elif table is not None:
        reader = reader.option("dbtable", table)
        if partition_column is not None:
            if lower_bound is None or upper_bound is None:
                raise ValueError("range-partitioned read needs lower/upper bounds")
            reader = (
                reader.option("partitionColumn", partition_column)
                .option("numPartitions", str(num_partitions))
                .option("lowerBound", str(lower_bound))
                .option("upperBound", str(upper_bound))
            )
    else:
        raise ValueError("provide query= or table=")
    return reader.load()


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register testdata tables as temp views so queries can be expressed in
    pure SQL (``spark.sql``) — same engine, same Catalyst plans."""
    for n in names or TESTDATA_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
