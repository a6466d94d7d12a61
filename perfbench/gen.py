"""Seeded input generator for the benchmark.

One call per (workload, seed) builds every input the workload reads and a
manifest of expected outcomes. Nothing here imports Spark: generation runs
once per seed, outside every timed region, and its output is cached under
the benchmark's state directory.

Pipeline workloads (``nightly_delta``, ``backfill``) get:

- ``corpus/``: the ALTO documents the local HTTP origin serves;
- ``catalog/``: ``file.parquet`` and ``includes.parquet``, each ONE file, as
  an export of the Postgres catalog would be. ``premis_stored_at`` holds an
  origin-relative path; the runner prefixes it with the origin's address;
- ``snapshot.db`` / ``snapshot.json``: the sink database and watermark as
  they stood before the night, restored before every iteration;
- ``fault_plan.json``: per-path faults the origin applies;
- ``manifest.json``: every selected document's expected outcome.

``doc_queries`` gets the tables its registered query builders read (one
parquet file each) and the digest of each query's DuckDB oracle over them.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import sqlite3
import sys
from xml.sax.saxutils import quoteattr

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from check import S3_PREFIX

NS_V2 = "http://www.loc.gov/standards/alto/ns-v2#"
NS_V3 = "http://www.loc.gov/standards/alto/ns-v3#"
NS_UNSUPPORTED = "http://www.loc.gov/standards/alto/ns-v9#"

BASE_DAY = dt.date(2025, 1, 1)
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

#: Sizes per workload. ``nightly_delta``: a year of catalog (109,500 rows),
#: the watermark at day D-1, 150 valid documents per day, so 300 selected.
#: ``backfill``: full_sync over every valid row (1,000 documents).
PIPELINE_SIZES = {
    "nightly_delta": {"rows_per_day": 300, "days": 365, "full_sync": False},
    "backfill": {"rows_per_day": 40, "days": 50, "full_sync": True},
}
#: Planted faults, each on this share of the selected documents: a 404, an
#: unsupported namespace, malformed XML, and a 503 followed by a 200.
FAULTS = ("missing", "unsupported_ns", "malformed", "transient")
FAULT_SHARE = 0.01
#: doc_queries: registered queries, each built and then materialized. One
#: per engine path: text scoring, a composition whose first run is mostly
#: compile time and whose build probes the plan, and a relational canary no
#: optimisation targets. The ALTO parse is measured on the pipeline
#: workloads.
DOC_QUERIES = ("text_quality", "pipeline_clean_corpus", "q1_pricing_summary")
#: Tables the doc_queries builders read, generated and registered.
DOC_QUERY_TABLES = ("documents", "lineitem")
#: doc_queries table sizes (rows).
TABLE_ROWS = {"documents": 500, "lineitem": 60000}


def sha1(text: str) -> str:
    return hashlib.sha1(text.encode("utf-8")).hexdigest()


# --------------------------------------------------------------------------
# ALTO documents
# --------------------------------------------------------------------------


def alto_document(rng: np.random.Generator, version: int, big: bool) -> tuple[str, str]:
    """Return (xml, expected transcript). v2 drops empty CONTENT, v3 keeps
    it (operators/alto.py); the transcript is the space-join of kept text."""
    ns = NS_V2 if version == 2 else NS_V3
    n_blocks = int(rng.integers(2, 13))
    lines_per_block = (40, 80) if big else (1, 5)
    texts = []
    parts = [f'<alto xmlns="{ns}">']
    parts.append(
        "<Description><sourceImageInformation><fileName>page.tif</fileName>"
        "</sourceImageInformation><OCRProcessing><ocrProcessingStep>"
        "<processingDateTime>2024-05-01</processingDateTime>"
        "<processingSoftware><softwareCreator>ABBYY</softwareCreator>"
        "<softwareName>FineReader</softwareName><softwareVersion>12.0"
        "</softwareVersion></processingSoftware></ocrProcessingStep>"
        "</OCRProcessing></Description>"
    )
    parts.append('<Layout><Page WIDTH="2480" HEIGHT="3508"><PrintSpace>')
    y = 0
    for _ in range(n_blocks):
        parts.append("<TextBlock>")
        for _ in range(int(rng.integers(*lines_per_block))):
            parts.append("<TextLine>")
            y += 20
            for s in range(int(rng.integers(2, 9))):
                word = "" if rng.random() < 0.03 else WORDS[int(rng.integers(len(WORDS)))]
                parts.append(
                    f"<String CONTENT={quoteattr(word)} HPOS=\"{100 + 60 * s}\" "
                    f'VPOS="{y}" WIDTH="{5 * len(word)}" HEIGHT="18"/>'
                )
                if word or version == 3:
                    texts.append(word)
            parts.append("</TextLine>")
        parts.append("</TextBlock>")
    parts.append("</PrintSpace></Page></Layout></alto>")
    return "".join(parts), " ".join(texts)


def _pipeline(out: str, workload: str, seed: int) -> dict:
    """Counts are fixed by the workload, identities by the seed: every day
    has the same number of catalog rows, every 20-row cycle the same filter
    mix, and the selection the same number of each planted fault, so a run
    on any seed does the same amount of work."""
    size = PIPELINE_SIZES[workload]
    rng = np.random.default_rng([seed, 1 if workload == "nightly_delta" else 2])
    per_day, days = size["rows_per_day"], size["days"]
    n = per_day * days
    day = np.repeat(np.arange(days), per_day)
    secs = rng.integers(0, 86_400, n)
    # filters the catalog SQL must really apply (pipeline.catalog_scan):
    # per 20 rows, 4 wrong MIME type, 3 non-ALTO schema, 3 not in includes
    slot = np.concatenate([rng.permutation(per_day) for _ in range(days)]) % 20
    mime = np.where(slot < 4, "image/tiff", "application/xml")
    schema = np.where((slot >= 4) & (slot < 7), "mets", "schema_alto_v3")
    included = (slot < 7) | (slot >= 10)
    file_id = np.array([f"f{seed}-{i:07d}" for i in range(n)])
    rep_id = np.array([f"r{seed}-{i:07d}" for i in range(n)])
    path = np.array([f"/alto/{r}/{f}.xml" for r, f in zip(rep_id, file_id)])
    updated = np.datetime64(BASE_DAY, "s") + (day * 86_400 + secs).astype("timedelta64[s]")
    valid = slot >= 10
    last_day = days - 1
    since_day = None if size["full_sync"] else last_day - 1
    selected = valid & (True if since_day is None else day >= since_day)
    # the previous night (watermark D-2) delivered days D-2 and D-1
    delivered = (
        np.zeros(n, bool) if since_day is None else valid & (day >= since_day - 1) & (day < last_day)
    )
    # the same planted faults hit a document on both nights it is selected
    fault_of: dict[int, str] = {}
    order = rng.permutation(np.flatnonzero(selected))
    k = max(1, round(FAULT_SHARE * int(selected.sum())))
    for j, kind in enumerate(FAULTS):
        for i in order[j * k:(j + 1) * k]:
            fault_of[int(i)] = kind

    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus)
    fault_plan, docs = {}, {}
    for i in np.flatnonzero(selected | delivered):
        fault = fault_of.get(int(i))
        version = 2 if rng.random() < 2 / 3 else 3
        big = workload == "backfill" and rng.random() < 0.02
        xml, text = alto_document(rng, version, big)
        outcome = "processed"
        if fault == "unsupported_ns":
            xml = xml.replace(NS_V2 if version == 2 else NS_V3, NS_UNSUPPORTED, 1)
            text, outcome = None, "alto_error"
        elif fault == "malformed":
            xml = xml[: len(xml) // 2]
            text, outcome = None, "alto_error"
        elif fault == "missing":
            text, outcome = None, "fetch_error"
        if fault in ("missing", "transient"):
            fault_plan[path[i]] = fault
        if fault != "missing":
            dest = os.path.join(corpus, path[i].lstrip("/"))
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            with open(dest, "w", encoding="utf-8") as f:
                f.write(xml)
        docs[rep_id[i]] = {
            "path": path[i],
            "key": f"{file_id[i]}.xml.json",
            "day": int(day[i]),
            "updated_at": str(updated[i]),
            "selected": bool(selected[i]),
            "delivered": bool(delivered[i]),
            "outcome": outcome,
            "fault": fault,
            "transcript": text,
        }

    catalog = os.path.join(out, "catalog")
    os.makedirs(catalog)
    pq.write_table(
        pa.table({
            "id": file_id, "representation_id": rep_id, "premis_stored_at": path,
            "ebucore_has_mime_type": mime, "schema_name": schema,
            "updated_at": pa.array(updated.astype("datetime64[us]"), pa.timestamp("us")),
        }),
        os.path.join(catalog, "file.parquet"),
    )
    pq.write_table(
        pa.table({"file_id": file_id[included]}), os.path.join(catalog, "includes.parquet")
    )

    # sink state before the night: every catalog representation exists;
    # documents delivered the previous night carry its transcript and one
    # schema_transcript_url row
    con = sqlite3.connect(os.path.join(out, "snapshot.db"))
    con.execute("CREATE TABLE representation (id TEXT PRIMARY KEY, schema_transcript TEXT)")
    con.execute(
        "CREATE TABLE schema_transcript_url (representation_id TEXT, schema_transcript_url TEXT)"
    )
    prior = {r: d for r, d in docs.items() if d["delivered"] and d["outcome"] == "processed"}
    con.executemany(
        "INSERT INTO representation VALUES (?, ?)",
        ((r, prior[r]["transcript"] if r in prior else None) for r in rep_id[valid]),
    )
    con.executemany(
        "INSERT INTO schema_transcript_url VALUES (?, ?)",
        ((r, S3_PREFIX + d["key"]) for r, d in prior.items()),
    )
    con.commit()
    con.close()
    watermark = None if since_day is None else str(BASE_DAY + dt.timedelta(days=since_day))
    with open(os.path.join(out, "snapshot.json"), "w") as f:
        json.dump({"since": watermark}, f)
    with open(os.path.join(out, "fault_plan.json"), "w") as f:
        json.dump(fault_plan, f, sort_keys=True)

    sel = {r: d for r, d in docs.items() if d["selected"]}
    return {
        "snapshot_watermark": watermark,
        "full_sync": size["full_sync"],
        "catalog_rows": n,
        "selected": len(sel),
        "replayed": sum(d["delivered"] for d in sel.values()),
        "max_updated_at": max(d["updated_at"] for d in sel.values()),
        "documents": {
            r: {k: d[k] for k in ("path", "key", "outcome", "fault", "delivered", "day",
                                  "updated_at")}
            | {"digest": None if d["transcript"] is None else sha1(d["transcript"])}
            for r, d in sel.items()
        },
    }


# --------------------------------------------------------------------------
# doc_queries tables
# --------------------------------------------------------------------------


def _documents(rng, n):
    """Random word bags over the 30-word vocabulary. The last fifth are
    copies of base documents: a fixed number of exact copies and of near
    copies (one word changed or one appended), so every seed has the same
    duplicate structure (star-shaped components around a base document)."""
    n_base = n - n // 5
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(15, 90))))
             for _ in range(n_base)]
    for i in range(n - n_base):
        words = texts[int(rng.integers(n_base))].split()
        if i % 3 == 1:
            words[int(rng.integers(len(words)))] = WORDS[int(rng.integers(len(WORDS)))]
        elif i % 3 == 2:
            words.append("dup")
        texts.append(" ".join(words))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    langs = np.array(["en", "zh", "es", "de", "fr"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(len(langs), n, p=[0.44, 0.15, 0.14, 0.14, 0.13])],
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _lineitem(rng, n):
    """TPC-H-shaped line items: two-decimal prices, whole-day ship dates."""
    qty = rng.integers(1, 51, n).astype(float)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90_000, 210_000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(
            (np.datetime64("1992-01-01", "D") + rng.integers(0, 3600, n)).astype("datetime64[us]"),
            pa.timestamp("us")),
    })


def oracle_digests(tdir: str, names) -> dict:
    """Digest of each query's DuckDB oracle over the tables in ``tdir``."""
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from check import frame_digest
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_ORACLES, ORACLES

    oracles = {**ORACLES, **EXTRA_ORACLES}
    con = duckdb.connect()
    try:
        for t in DOC_QUERY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tdir}/{t}.parquet')")
        return {n: frame_digest(con.execute(oracles[n]).fetch_df()) for n in names}
    finally:
        con.close()


def _doc_queries(out: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    tables = {"documents": _documents(rng, TABLE_ROWS["documents"]),
              "lineitem": _lineitem(rng, TABLE_ROWS["lineitem"])}
    tdir = os.path.join(out, "tables")
    os.makedirs(tdir)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tdir, f"{name}.parquet"))
    return {
        "tables": {k: v.num_rows for k, v in tables.items()},
        "digests": oracle_digests(tdir, DOC_QUERIES),
    }


# --------------------------------------------------------------------------


def tree_digest(root: str) -> str:
    """Hash of every file under ``root`` except the manifest itself."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            rel = os.path.relpath(p, root)
            if rel == "manifest.json":
                continue
            h.update(rel.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def generate(out: str, workload: str, seed: int) -> dict:
    """Build the inputs of ``workload`` for ``seed`` into ``out`` (replaced)."""
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = f"{out}.partial"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    if workload == "doc_queries":
        body = _doc_queries(tmp, seed)
    else:
        body = _pipeline(tmp, workload, seed)
    manifest = {"workload": workload, "seed": seed, **body, "inputs_sha256": tree_digest(tmp)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, out)
    return manifest


def load_verified(out: str) -> dict:
    """Manifest of ``out``, after checking the inputs still hash to it."""
    with open(os.path.join(out, "manifest.json")) as f:
        manifest = json.load(f)
    if tree_digest(out) != manifest["inputs_sha256"]:
        raise RuntimeError(f"inputs under {out} do not match their manifest hash")
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*PIPELINE_SIZES, "doc_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    m = generate(args.out, args.workload, args.seed)
    print(json.dumps({k: v for k, v in m.items() if k != "documents"}))
