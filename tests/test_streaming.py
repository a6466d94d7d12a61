"""Structured Streaming surface: AvailableNow drain equals the batch
answer; checkpoint incrementality; windowed/session/dedup operators."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_alto_to_json_spark.sources import load_table
from prefect_flow_arc_alto_to_json_spark.streaming.pipeline import (
    dedup_events,
    run_available_now,
    sessionized_events,
    stream_events,
    windowed_event_counts,
)


@pytest.fixture()
def events_dir(tmp_path, sf_dir):
    d = tmp_path / "events_src"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), d / "part-000.parquet")
    return str(d)


def test_windowed_counts_match_batch(spark, sf_dir, events_dir, tmp_path):
    stream = windowed_event_counts(stream_events(spark, events_dir))
    run_available_now(
        stream, str(tmp_path / "ckpt"), output_mode="complete",
        memory_table="win_counts",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("win_counts").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
        .select(F.col("window.start").alias("ws"), "event_type", "n", "v")
        .collect()
    )
    want = {(r["ws"], r["event_type"]): (r["n"], r["v"]) for r in batch}
    assert got == want and len(got) > 0


def test_availablenow_checkpoint_is_incremental(spark, sf_dir, events_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    dedup = dedup_events(stream_events(spark, events_dir)).select("event_id")
    # memory sink can't recover a checkpoint; foreachBatch (the production
    # sink shape) can — collect counts per run.
    seen: list[int] = []
    run_available_now(dedup, ckpt, foreach_batch=lambda df, _id: seen.append(df.count()))
    assert sum(seen) == load_table(spark, sf_dir, "events").count()

    # second run, same checkpoint, no new files -> nothing new emitted
    seen.clear()
    run_available_now(dedup, ckpt, foreach_batch=lambda df, _id: seen.append(df.count()))
    assert sum(seen) == 0


def test_dedup_within_watermark_drops_dups(spark, events_dir, tmp_path):
    # two identical files -> every event_id appears twice in the stream;
    # dedup emits each exactly once
    shutil.copy(
        os.path.join(events_dir, "part-000.parquet"),
        os.path.join(events_dir, "part-dup.parquet"),
    )
    dedup = dedup_events(stream_events(spark, events_dir)).select("event_id")
    run_available_now(dedup, str(tmp_path / "ckpt3"), memory_table="dedup_dups")
    out = spark.table("dedup_dups")
    assert out.count() == out.select("event_id").distinct().count()


def test_session_window_streaming(spark, events_dir, tmp_path):
    stream = sessionized_events(stream_events(spark, events_dir))
    run_available_now(
        stream, str(tmp_path / "ckpt4"), output_mode="complete",
        memory_table="sessions",
    )
    rows = spark.table("sessions")
    assert rows.count() > 0
    bad = rows.where(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0


def test_running_user_totals_stateful(spark, sf_dir, events_dir, tmp_path):
    from prefect_flow_arc_alto_to_json_spark.streaming.pipeline import (
        running_user_totals,
    )

    collected = []
    run_available_now(
        running_user_totals(stream_events(spark, events_dir)),
        str(tmp_path / "ckpt5"),
        output_mode="update",
        foreach_batch=lambda df, _id: collected.extend(df.collect()),
    )
    # last emitted row per user == the batch ground truth
    last = {r["user_id"]: (r["n_events"], r["total_value"]) for r in collected}
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
        .collect()
    )
    want = {r["user_id"]: (r["n"], r["v"]) for r in batch}
    assert last == want and len(want) > 0


def test_stream_alto_matches_batch(spark, tmp_path):
    import glob as globmod

    from prefect_flow_arc_alto_to_json_spark.operators.alto import (
        simplify_alto,
        transcript,
    )
    from prefect_flow_arc_alto_to_json_spark.streaming.pipeline import (
        stream_alto_documents,
    )

    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    src = tmp_path / "alto_src"
    src.mkdir()
    for p in globmod.glob(os.path.join(fixtures, "*.xml")):
        shutil.copy(p, src / os.path.basename(p))

    got_rows = []
    run_available_now(
        stream_alto_documents(spark, str(src)),
        str(tmp_path / "ckpt_alto"),
        foreach_batch=lambda df, _id: got_rows.extend(df.collect()),
    )
    got = {os.path.basename(r["path"]): r["transcript"] for r in got_rows}

    rows = []
    for p in sorted(globmod.glob(os.path.join(fixtures, "*.xml"))):
        with open(p) as f:
            rows.append((os.path.basename(p), f.read()))
    batch = simplify_alto(
        spark.createDataFrame(rows, "name string, xml string")
    ).withColumn("transcript", transcript("simplified"))
    want = {r["name"]: r["transcript"] for r in batch.collect()}
    assert got == want and len(got) == len(rows)


def test_stream_static_enrichment(spark, sf_dir, events_dir, tmp_path):
    from prefect_flow_arc_alto_to_json_spark.streaming.pipeline import enrich_stream

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("user_total"))
    )
    rows = []
    run_available_now(
        enrich_stream(stream_events(spark, events_dir), dim, "user_id").select(
            "event_id", "user_id", "user_total"
        ),
        str(tmp_path / "ckpt6"),
        foreach_batch=lambda df, _id: rows.extend(df.collect()),
    )
    want = {
        r["user_id"]: r["user_total"] for r in dim.collect()
    }
    assert len(rows) == load_table(spark, sf_dir, "events").count()
    assert all(r["user_total"] == want[r["user_id"]] for r in rows)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Error events joined to the purchases that follow within 10 minutes,
    both sides streaming with watermarks — must equal the identical batch
    interval join over the same files."""
    from prefect_flow_arc_alto_to_json_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    errors = stream_events(spark, events_dir).where("event_type = 'error'")
    purchases = stream_events(spark, events_dir).where(
        "event_type = 'purchase'"
    )
    joined = stream_stream_interval_join(errors, purchases)
    run_available_now(
        joined, str(tmp_path / "ckpt_ssj"), memory_table="ssj_out"
    )
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.table("ssj_out").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    e = ev.where("event_type = 'error'").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("le"), F.col("ts").alias("lt")
    )
    p = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("re"), F.col("ts").alias("rt")
    )
    want = {
        (r["le"], r["re"])
        for r in e.join(
            p,
            (F.col("u") == F.col("pu"))
            & (F.col("rt") > F.col("lt"))
            & (F.col("rt") <= F.col("lt") + F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    }
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# stream_events ts self-heal branches (round-5): the footer probe must pick
# the right schema + rebuild for all three on-disk encodings the batch
# loader supports — current testdata is µs NTZ, so the legacy-nanos and
# LTZ arms need planted files.
# ---------------------------------------------------------------------------


def _drain_ids_and_epochs(spark, src, ckpt):
    out = []
    ev = stream_events(spark, str(src)).select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    run_available_now(
        ev, str(ckpt), foreach_batch=lambda df, _id: out.extend(df.collect())
    )
    return {r["event_id"]: r["us"] for r in out}


def test_stream_events_heals_legacy_nanos(spark, tmp_path):
    """A TIMESTAMP(NANOS) parquet (pyarrow-written, the legacy testdata
    encoding) must stream with the same epoch instants the batch loader
    produces."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    us = [1_700_000_000_000_000 + i * 1_000_000 for i in range(5)]
    table = pa.table(
        {
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array([u * 1000 for u in us], pa.timestamp("ns")),
            "user_id": pa.array([1] * 5, pa.int64()),
            "event_type": pa.array(["view"] * 5),
            "value": pa.array([1.0] * 5),
            "props": pa.array([None] * 5, pa.string()),
        }
    )
    src = tmp_path / "nanos_src"
    src.mkdir()
    pq.write_table(table, str(src / "events.parquet"), store_schema=False)
    got = _drain_ids_and_epochs(spark, src, tmp_path / "nanos_ckpt")
    assert got == dict(enumerate(us))


def test_stream_events_heals_ltz_micros(spark, tmp_path):
    """A µs TIMESTAMP(isAdjustedToUTC=true) parquet (Spark's default write
    type) must stream as the identical instants, no rebuild shift."""
    import datetime

    base = datetime.datetime(
        2024, 3, 1, 12, 0, 0, tzinfo=datetime.timezone.utc
    )
    rows = [
        (i, base + datetime.timedelta(seconds=i), 1, "view", 1.0, None)
        for i in range(5)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    from prefect_flow_arc_alto_to_json_spark.plans.streaming_queries import (
        _write_single_parquet,
    )

    src = tmp_path / "ltz_src"
    src.mkdir()
    _write_single_parquet(df, str(src / "events.parquet"))
    want = {
        i: int((base + datetime.timedelta(seconds=i)).timestamp() * 1_000_000)
        for i in range(5)
    }
    got = _drain_ids_and_epochs(spark, src, tmp_path / "ltz_ckpt")
    assert got == want


def test_late_data_replay_on_legacy_nanos_source(spark, sf_dir, tmp_path):
    """The multi-phase replay queries plant files NEXT TO the source file;
    on a legacy TIMESTAMP(NANOS) corpus the planted files must be
    re-encoded to match (mixed-encoding dirs are undecodable under the
    stream's single fixed schema). Convert the events table to ns and run
    the full stream_late_data_drop flow against it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prefect_flow_arc_alto_to_json_spark.functions.scalar import cents
    from prefect_flow_arc_alto_to_json_spark.plans import QUERIES

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    idx = t.schema.get_field_index("ts")
    t = t.set_column(idx, "ts", t.column("ts").cast(pa.timestamp("ns")))
    fake_sf = tmp_path / "sf_nanos"
    fake_sf.mkdir()
    pq.write_table(t, str(fake_sf / "events.parquet"), store_schema=False)

    out = QUERIES["stream_late_data_drop"](spark, str(fake_sf))
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in out.collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in load_table(spark, str(fake_sf), "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("total_value"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_late_data_replay_on_ltz_source(spark, sf_dir, tmp_path):
    """LTZ-µs mirror of the legacy-nanos replay test: a Spark-default
    TIMESTAMP (isAdjustedToUTC=true) events corpus through the full
    stream_late_data_drop flow — the planted files must re-encode to LTZ."""
    from prefect_flow_arc_alto_to_json_spark.functions.scalar import (
        cents,
        epoch_us,
    )
    from prefect_flow_arc_alto_to_json_spark.plans import QUERIES
    from prefect_flow_arc_alto_to_json_spark.plans.streaming_queries import (
        _write_single_parquet,
    )

    ltz = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(epoch_us("ts"))
    )
    fake_sf = tmp_path / "sf_ltz"
    fake_sf.mkdir()
    _write_single_parquet(ltz, str(fake_sf / "events.parquet"))

    out = QUERIES["stream_late_data_drop"](spark, str(fake_sf))
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in out.collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in load_table(spark, str(fake_sf), "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("total_value"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_events_empty_dir_starts(spark, tmp_path):
    """An empty landing directory is a valid production startup state: the
    schema probe finds no files and stream_events falls back to the default
    µs-NTZ contract instead of raising (round-5 ADVICE)."""
    src = tmp_path / "empty_src"
    src.mkdir()
    df = stream_events(spark, str(src))
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]
    # and a drain over the empty dir completes with zero rows
    out: list = []
    run_available_now(
        df.select("event_id"),
        str(tmp_path / "empty_ckpt"),
        foreach_batch=lambda b, _id: out.extend(b.collect()),
    )
    assert out == []


def _load_ids_and_epochs(spark, src, _ckpt):
    from prefect_flow_arc_alto_to_json_spark.functions.scalar import epoch_us

    ev = load_table(spark, str(src), "events").select("event_id", epoch_us("ts"))
    return dict(tuple(r) for r in ev.collect())


@pytest.mark.parametrize(
    "read", [_load_ids_and_epochs, _drain_ids_and_epochs], ids=["batch", "stream"]
)
def test_nanos_probe_sets_conf_only_when_needed(spark, tmp_path, read):
    """Neither the batch loader nor stream_events may flip the
    session-global nanosAsLong conf unless the probe actually meets a
    legacy-nanos file: a µs-NTZ source leaves the conf unset; a nanos
    source self-heals by setting it and reading again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(conf_key, None)
    spark.conf.unset(conf_key)
    try:
        # µs-NTZ source (store_schema=False keeps pure parquet logical types)
        us_src = tmp_path / "us_src"
        us_src.mkdir()
        table_us = pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_700_000_000_000_000], pa.timestamp("us")),
                "user_id": pa.array([1], pa.int64()),
                "event_type": pa.array(["view"]),
                "value": pa.array([1.0]),
                "props": pa.array([None], pa.string()),
            }
        )
        pq.write_table(table_us, str(us_src / "events.parquet"), store_schema=False)
        assert read(spark, us_src, tmp_path / "us_ckpt") == {1: 1_700_000_000_000_000}
        assert spark.conf.get(conf_key, None) is None

        # legacy nanos source: the read fails once, conf is set, reread succeeds
        ns_src = tmp_path / "ns_src"
        ns_src.mkdir()
        table_ns = table_us.set_column(
            1, "ts", pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))
        )
        pq.write_table(table_ns, str(ns_src / "events.parquet"), store_schema=False)
        assert read(spark, ns_src, tmp_path / "ns_ckpt") == {1: 1_700_000_000_000_000}
        assert spark.conf.get(conf_key, None) == "true"
    finally:
        if saved is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, saved)


def test_catalog_poll_reader_offsets_replay(tmp_path):
    """SimpleDataSourceStreamReader contract (sources/catalog_stream.py):
    read() pages deterministically, terminates at EOF with a fixed-point
    offset, and readBetweenOffsets() re-serves EXACTLY the rows of any
    committed range (the restart-recovery path Spark invokes for an
    uncommitted batch)."""
    import json

    from prefect_flow_arc_alto_to_json_spark.sources.catalog_stream import (
        CatalogPollStreamReader,
    )

    path = tmp_path / "cat.jsonl"
    with open(path, "w", encoding="utf-8") as fh:
        for i in range(25):
            fh.write(json.dumps({"doc_id": i, "url": f"u{i}"}) + "\n")
    r = CatalogPollStreamReader({"path": str(path), "batchRows": "10"})
    off = r.initialOffset()
    pages, offsets = [], [off]
    for _ in range(5):
        rows, off = r.read(off)
        pages.append(list(rows))
        offsets.append(off)
    assert [len(p) for p in pages] == [10, 10, 5, 0, 0]  # EOF fixed point
    assert [r_[0] for p in pages for r_ in p] == list(range(25))
    # replay of each committed range is bit-identical
    for i, page in enumerate(pages[:3]):
        assert list(r.readBetweenOffsets(offsets[i], offsets[i + 1])) == page


def test_detect_paths_core():
    """CEP state-machine core: replace/abandon/emit rules + state carry."""
    import pandas as pd

    from prefect_flow_arc_alto_to_json_spark.streaming.pipeline import (
        _detect_paths,
    )

    def mk(rows):
        return pd.DataFrame(
            rows, columns=["ts", "event_id", "event_type", "user_id"]
        ).assign(ts=lambda d: pd.to_datetime(d["ts"], unit="s"))

    # view replaced by newer view; click counts; purchase emits and closes
    out, st = _detect_paths(
        iter([mk([(1, 1, "view", 7), (2, 2, "view", 7), (3, 3, "click", 7),
                  (4, 4, "purchase", 7), (5, 5, "purchase", 7)])]),
        None,
    )
    assert out == [(7, 2_000_000, 4_000_000, 1)] and st is None
    # error abandons
    out, st = _detect_paths(
        iter([mk([(1, 1, "view", 7), (2, 2, "error", 7),
                  (3, 3, "purchase", 7)])]),
        None,
    )
    assert out == [] and st is None
    # state carries an open path across batches
    out, st = _detect_paths(iter([mk([(1, 1, "view", 7)])]), None)
    assert out == [] and st == (1_000_000, 1, 0)
    out, st = _detect_paths(iter([mk([(2, 2, "purchase", 7)])]), st)
    assert out == [(7, 1_000_000, 2_000_000, 0)] and st is None


def test_conversion_paths_tws_guard(spark):
    """The typed transformWithState twin is import-guarded on protobuf
    (absent here): construction must raise the documented
    NotImplementedError, not crash a streaming worker."""
    import pytest

    from prefect_flow_arc_alto_to_json_spark.streaming.pipeline import (
        conversion_paths_tws,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401
        pytest.skip("protobuf present: guard not exercisable")
    except ImportError:
        pass
    df = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    with pytest.raises(NotImplementedError, match="protobuf"):
        conversion_paths_tws(df)
