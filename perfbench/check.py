"""Output checks for the benchmark. Pure Python (no Spark), so the checks
are unit-tested on their own.

Pipeline workloads: every selected document's outcome is compared with the
manifest (transcript in ``representation``, object key and JSON body,
``schema_transcript_url`` rows, quarantine cause), then the saved
watermark. ``doc_queries``: each result's digest (row count plus an
order-insensitive hash) is compared with the digest of the query's DuckDB
oracle over the same generated tables.

A mismatch counts as a failed operation; nothing is skipped silently.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import sqlite3

#: URL prefix of the objects in schema_transcript_url (the PipelineConfig
#: defaults for s3_endpoint and s3_bucket).
S3_PREFIX = "https://s3.local/alto-json/"


def _sha1(text: str) -> str:
    return hashlib.sha1(text.encode("utf-8")).hexdigest()


# --------------------------------------------------------------------------
# query results
# --------------------------------------------------------------------------


def _canon(v):
    """Engine-neutral cell value: ints and floats compare as numbers (floats
    to 9 places), NaN and None as null, everything else by its text."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        f = float(v)
        return None if math.isnan(f) else ("num", round(f, 9))
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        i = int(v)
        return ("num", float(i)) if abs(i) < 2**52 else ("big", i)
    if type(v).__name__ == "Decimal":
        i = int(v)
        return ("big", i) if abs(i) >= 2**52 else ("num", round(float(v), 9))
    try:
        import pandas as pd

        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return str(v)


def frame_digest(pdf) -> dict:
    """Row count plus a hash that ignores row and column order."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_canon(v) for v in row))
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def check_query(name: str, got: dict, expected: dict) -> str | None:
    """None when ``got`` matches the oracle's digest; otherwise the problem.
    An empty result fails even when the oracle is empty too."""
    if got["rows"] == 0:
        return f"{name}: empty result"
    if got != expected:
        return f"{name}: digest {got} != oracle {expected}"
    return None


# --------------------------------------------------------------------------
# pipeline outputs
# --------------------------------------------------------------------------


def _table(con: sqlite3.Connection, sql: str) -> list[tuple]:
    return con.execute(sql).fetchall()


def _when(value) -> dt.datetime | None:
    """A watermark or ``updated_at`` value as a naive datetime, or None when
    it does not parse (the program casts the saved string to a timestamp)."""
    try:
        return dt.datetime.fromisoformat(str(value)).replace(tzinfo=None)
    except ValueError:
        return None


def check_pipeline(
    manifest: dict,
    snapshot_db: str,
    sink_db: str,
    objects_dir: str,
    watermark_file: str,
    origin_stats: dict,
    counts: dict | None,
) -> dict:
    """Compare one pipeline iteration's outputs with the manifest.

    Only outcomes that hold whether or not the counted defects are fixed
    are pass/fail conditions. A document the previous night already
    delivered may be selected again or not (the replay is a counter); one
    it did not deliver must be selected. A processed document needs at
    least one URL row, all of them naming its object (duplicates are a
    counter). The saved watermark must parse and may not pass the latest
    ``updated_at`` selected tonight (what it leaves behind is a counter).

    Returns ``attempted`` / ``failed`` operation counts (one operation per
    selected document, plus one for the watermark), the ``problems`` found,
    and outside-measured counters the trace reports.
    """
    docs = manifest["documents"]
    problems: list[str] = []
    per_path = origin_stats.get("per_path", {})

    snap = sqlite3.connect(snapshot_db)
    try:
        before = dict(_table(snap, "SELECT id, schema_transcript FROM representation"))
        urls_before: dict[str, int] = {}
        for (rep,) in _table(snap, "SELECT representation_id FROM schema_transcript_url"):
            urls_before[rep] = urls_before.get(rep, 0) + 1
    finally:
        snap.close()
    con = sqlite3.connect(sink_db)
    try:
        after = dict(_table(con, "SELECT id, schema_transcript FROM representation"))
        urls_after: dict[str, list[str]] = {}
        for rep, url in _table(
            con, "SELECT representation_id, schema_transcript_url FROM schema_transcript_url"
        ):
            urls_after.setdefault(rep, []).append(url)
    finally:
        con.close()
    objects = set(os.listdir(objects_dir)) if os.path.isdir(objects_dir) else set()

    failed_docs = set()
    quarantined = {"fetch_error": 0, "alto_error": 0}
    selected = {"processed": 0, "failed": 0}
    object_bytes = 0
    for rep, d in docs.items():
        bad = []
        gets, _, status = per_path.get(d["path"], [0, 0, 0])
        has_object = d["key"] in objects
        urls = urls_after.get(rep, [])
        if not (gets or has_object):
            if not d["delivered"]:
                bad.append("not selected")
            elif after.get(rep) != before.get(rep) or len(urls) != urls_before.get(rep, 0):
                bad.append("sink rows changed but the document was not selected")
        elif d["outcome"] == "processed":
            selected["processed"] += 1
            if after.get(rep) is None or _sha1(after[rep]) != d["digest"]:
                bad.append("transcript")
            if not has_object:
                bad.append("object missing")
            else:
                path = os.path.join(objects_dir, d["key"])
                object_bytes += os.path.getsize(path)
                try:
                    with open(path, encoding="utf-8") as f:
                        body = json.load(f)
                    text = " ".join(t["text"] for t in body["text"])
                    if _sha1(text) != d["digest"]:
                        bad.append("object text")
                except (ValueError, KeyError, TypeError):
                    bad.append("object not JSON")
            if not urls or set(urls) != {S3_PREFIX + d["key"]}:
                bad.append("url rows")
        else:
            selected["failed"] += 1
            quarantined[d["outcome"]] += 1
            if has_object:
                bad.append("object written for a quarantined document")
            if after.get(rep) != before.get(rep):
                bad.append("transcript changed")
            if len(urls) != urls_before.get(rep, 0):
                bad.append("url rows")
            if (status == 200) != (d["outcome"] == "alto_error"):
                bad.append(f"origin status {status}")
        if bad:
            failed_docs.add(rep)
            problems.append(f"{rep} ({d['outcome']}): {', '.join(bad)}")

    expected_keys = {d["key"] for d in docs.values() if d["outcome"] == "processed"}
    extra = objects - expected_keys
    if extra:
        problems.append(f"{len(extra)} unexpected objects, e.g. {sorted(extra)[:3]}")
    if counts is not None and counts != selected:
        problems.append(f"run_pipeline counts {counts} != selected outcomes {selected}")

    try:
        with open(watermark_file, encoding="utf-8") as f:
            saved = json.load(f)["since"]
    except (OSError, ValueError, KeyError):
        saved = None
    since = _when(saved)
    watermark_ok = since is not None and since <= _when(manifest["max_updated_at"])
    if not watermark_ok:
        problems.append(f"watermark {saved!r} does not parse or is later than "
                        f"the latest selected updated_at {manifest['max_updated_at']!r}")

    # documents that failed tonight and that the next run's predicate
    # (updated_at >= saved watermark) will never select again
    left_behind = 0
    if since is not None:
        left_behind = sum(
            1 for d in docs.values()
            if d["outcome"] != "processed" and _when(d["updated_at"]) < since
        )
    fetched = [d for d in docs.values() if per_path.get(d["path"], [0])[0] > 0]
    n_url_rows = sum(len(v) for v in urls_after.values())
    return {
        "attempted": len(docs) + 1,
        "failed": len(failed_docs) + (0 if watermark_ok else 1) + (1 if extra else 0)
        + (1 if counts is not None and counts != selected else 0),
        "problems": problems,
        "quarantined": quarantined,
        "objects_written": len(objects),
        "object_mb": object_bytes / 1e6,
        "url_rows_per_doc": n_url_rows / max(1, len(urls_after)),
        "failed_left_behind": left_behind,
        "replayed_share": sum(d["delivered"] for d in fetched) / max(1, len(fetched)),
        "saved_watermark": saved,
    }
