"""End-to-end ALTO pipeline — the reference's ``main_flow``
(flows/main_flow.py:111-157) as ONE lazy DataFrame plan run by ONE Spark
action.

Reference stages → engine stages:

1. catalog scan + predicates + join (get_url_list, :15-44)
   → DataFrame scan with pushed filters + J1 join (Catalyst delegates to
     the source exactly like the reference delegates to Postgres).
2. watermark read (:129-130) → WatermarkStore.load + incremental_filter.
3. per-file node subprocess (fetch+parse+extract, :48-63)
   → fetch_urls (mapInPandas) + simplify_alto (from_xml + HOFs) — the
     subprocess boundary dissolves into the plan (SURVEY.md §2.10 U1).
4. transcript agg (:65-70) → transcript() array_join (order-safe).
5. sinks (:94-103,141-147) → write_json_objects, the one action: per
   partition the objects, then the UPDATE, then the INSERT. A one-row job
   of the action's shape (``mapInPandas`` then ``mapInArrow``) runs on a
   background thread while the driver builds the plan: it starts the
   Python workers the action's task then takes from the idle pool, so
   their cold start (daemon, forks, pandas/pyarrow imports, the JVM's
   first Arrow use) overlaps planning instead of following it.
6. watermark save on completion (:114) → counts and the date of
   max(updated_at) from the action's ``observe()``; WatermarkStore.save
   after it succeeds.

The driver-side for-loop with ``.result()`` joins (the reference's
per-file serialization, :136-153) disappears into partition parallelism.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .functions.scalar import basename
from .operators.alto import simplified_json, simplify_alto, transcript
from .schemas import FILE_SCHEMA, INCLUDES_SCHEMA
from .sinks import write_json_objects
from .sources.fetch import fetch_urls
from .streaming.watermark import WatermarkStore, incremental_filter, watermark_of


#: Name of the thread :func:`run_pipeline` starts the Python workers on.
WORKER_START_THREAD = "run_pipeline-worker-start"


@dataclass
class PipelineConfig:
    catalog_dir: str                      # dir with file.parquet + includes.parquet
    objects_target: str                   # dir or s3://bucket/prefix for JSON objects
    s3_endpoint: str = "https://s3.local" # used only to build the public URL
    s3_bucket: str = "alto-json"
    watermark_dir: str | None = None
    full_sync: bool = False


def catalog_scan(
    spark: SparkSession, catalog_dir: str, since: str | None, full_sync: bool
) -> DataFrame:
    """The reference's catalog SQL (flows/main_flow.py:22-30) as a plan:
    projection + mime/schema predicates + includes-join + watermark range.
    Over JDBC the same plan pushes down to Postgres; here the catalog is a
    parquet mirror (FIXTURES.md §2).

    Both tables are read with their known schemas, so building the plan
    runs no schema-inference job. ``updated_at`` reads as ``timestamp``
    whether the file stores it with a zone (Spark) or without one
    (pyarrow's ``timestamp[us]``); the session time zone (UTC) keeps the
    wall clock of the latter."""
    file_df = spark.read.schema(FILE_SCHEMA).parquet(os.path.join(catalog_dir, "file.parquet"))
    includes = spark.read.schema(INCLUDES_SCHEMA).parquet(
        os.path.join(catalog_dir, "includes.parquet")
    )
    scan = (
        file_df.where(
            (F.col("ebucore_has_mime_type") == "application/xml")
            & F.col("schema_name").like("%alto%")
        )
        .join(
            F.broadcast(includes), F.col("file_id") == F.col("id"), "inner"
        )
        .select("representation_id", "premis_stored_at", "updated_at")
    )
    return incremental_filter(scan, since, full_sync=full_sync)


def transform(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """fetch → parse → simplify → transcript → keys/urls, still lazy."""
    fetched = fetch_urls(df, url_col="premis_stored_at")
    simplified = simplify_alto(fetched, xml_col="body")
    s3_key = F.concat(basename("premis_stored_at"), F.lit(".json"))
    return simplified.select(
        "representation_id",
        "premis_stored_at",
        "updated_at",
        "fetch_error",
        "alto_error",
        "simplified",
        transcript("simplified").alias("schema_transcript"),
        simplified_json("simplified").alias("json"),
        s3_key.alias("s3_key"),
        # f"{endpoint}/{bucket}/{key}" (flows/main_flow.py:150)
        F.concat_ws("/", F.lit(cfg.s3_endpoint), F.lit(cfg.s3_bucket), s3_key).alias(
            "schema_transcript_url"
        ),
    )


def _start_python_workers(spark: SparkSession) -> None:
    """Run a one-row job shaped like the action's task: a ``mapInPandas``
    feeding a ``mapInArrow``, both identity functions, driven by a
    ``noop`` write. It forks the task's two Python workers, which import
    pandas and pyarrow, and loads the JVM's Arrow path; with
    ``spark.python.worker.reuse`` (the default) the workers then wait in
    the idle pool for the action's task. The functions are lambdas, so
    they ship by value and need no package on the executor."""
    spark.sparkContext.setJobDescription("run_pipeline: start the Python workers")
    one_row = spark.range(0, 1, 1, 1)
    (
        one_row.mapInPandas(lambda frames: frames, one_row.schema)
        .mapInArrow(lambda batches: batches, one_row.schema)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    representation_conn_factory=None,
    transcript_url_conn_factory=None,
    objects_client_factory=None,
) -> dict[str, int]:
    """Execute the full flow as ONE Spark action. Returns row counts per
    outcome (``processed``, ``failed``).

    The action is ``write_json_objects`` over the ok rows: per partition,
    the S3 objects, then the UPDATE, then the INSERT (the reference's
    order), so a document's DB rows commit only after its object exists.
    A failed partition does not undo other partitions' commits; a rerun
    repairs it, as every write is idempotent. Failed fetches/parses are
    quarantined, not fatal (unlike the reference, where one bad file fails
    its whole task chain :59-63 — at 100 TB that policy would be
    unusable). An ``observe()`` on the same action yields both outcome
    counts and the date of max(updated_at) over every selected row, saved
    as the watermark once the action has succeeded. The date is the one
    in the session time zone, where the next night's ``updated_at >=
    since`` filter reads it (``streaming/watermark.py:watermark_of``).

    Before anything else, :func:`_start_python_workers` runs on a
    background thread: a cold process spends about as long starting the
    action's Python workers as the driver spends building the plan, so
    the two overlap. The thread inherits the caller's job group and is
    joined before this function returns or raises, so no job outlives
    the call. The action does not depend on it: had it failed, the
    action's task would start its own workers.
    """
    workers = InheritableThread(
        target=_start_python_workers, args=(spark,), name=WORKER_START_THREAD
    )
    workers.start()
    try:
        store = WatermarkStore(cfg.watermark_dir) if cfg.watermark_dir else None
        since = store.load() if store else None

        work = catalog_scan(spark, cfg.catalog_dir, since, cfg.full_sync)
        is_ok = F.col("fetch_error").isNull() & F.col("alto_error").isNull()
        outcome = Observation()
        result = transform(work, cfg).observe(
            outcome,
            F.count_if(is_ok).alias("processed"),
            F.count_if(~is_ok).alias("failed"),
            watermark_of("updated_at").alias("watermark"),
        )
        statements = []
        if representation_conn_factory is not None:
            statements.append((
                representation_conn_factory,
                "UPDATE representation SET schema_transcript = ? WHERE id = ?",
                ["schema_transcript", "representation_id"],
            ))
        if transcript_url_conn_factory is not None:
            statements.append((
                transcript_url_conn_factory,
                "INSERT INTO schema_transcript_url (representation_id, schema_transcript_url) "
                "SELECT ?, ? WHERE NOT EXISTS (SELECT 1 FROM schema_transcript_url "
                "WHERE representation_id = ? AND schema_transcript_url = ?)",
                ["representation_id", "schema_transcript_url"] * 2,
            ))
        write_json_objects(
            result.where(is_ok),
            cfg.objects_target,
            # None -> the default boto3 client; tests inject a moto-endpoint
            # factory (the reference's endpoint override, main_flow.py:126)
            client_factory=objects_client_factory,
            statements=statements,
        )
        counts = outcome.get
        if store is not None and counts["watermark"] is not None:
            store.save(counts["watermark"])
        return {"processed": counts["processed"], "failed": counts["failed"]}
    finally:
        workers.join()
