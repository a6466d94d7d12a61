"""Output checker: a correct simulated night passes, each kind of wrong
output is counted as a failed operation, a night with a counted defect
fixed still passes, query digests ignore order."""

import contextlib
import json
import os
import shutil
import sqlite3

import pandas as pd
import pytest
from test_gen import reference_transcript

import check
import gen


def simulate_night(inputs: str, manifest: dict, out: str) -> dict:
    """Write the outputs a correct run_pipeline leaves; return origin stats."""
    db = os.path.join(out, "sink.db")
    shutil.copyfile(os.path.join(inputs, "snapshot.db"), db)
    objects = os.path.join(out, "objects")
    os.makedirs(objects)
    con = sqlite3.connect(db)
    per_path = {}
    for rep, d in manifest["documents"].items():
        if d["outcome"] == "fetch_error":
            per_path[d["path"]] = [3, 0, 404]
            continue
        with open(os.path.join(inputs, "corpus", d["path"].lstrip("/")), encoding="utf-8") as f:
            xml = f.read()
        per_path[d["path"]] = [2 if d["fault"] == "transient" else 1, len(xml), 200]
        if d["outcome"] != "processed":
            continue
        text = reference_transcript(xml)
        lines = [{"text": w} for w in text.split(" ")]
        with open(os.path.join(objects, d["key"]), "w", encoding="utf-8") as f:
            json.dump({"description": {}, "text": lines}, f, indent=2)
        con.execute("UPDATE representation SET schema_transcript = ? WHERE id = ?", (text, rep))
        con.execute("INSERT INTO schema_transcript_url VALUES (?, ?)", (rep, check.S3_PREFIX + d["key"]))
    con.commit()
    con.close()
    os.makedirs(os.path.join(out, "wm"))
    with open(os.path.join(out, "wm", "w.json"), "w") as f:
        json.dump({"since": manifest["max_updated_at"][:10]}, f)  # the program's day format
    return {"per_path": per_path}


@pytest.fixture()
def night(tmp_path, small_sizes):
    inputs = str(tmp_path / "inputs")
    manifest = gen.generate(inputs, "nightly_delta", 4)
    out = str(tmp_path / "out")
    os.makedirs(out)
    stats = simulate_night(inputs, manifest, out)
    n_ok = sum(d["outcome"] == "processed" for d in manifest["documents"].values())
    counts = {"processed": n_ok, "failed": len(manifest["documents"]) - n_ok}

    def run(counts=counts, stats=stats):
        return check.check_pipeline(
            manifest, os.path.join(inputs, "snapshot.db"), os.path.join(out, "sink.db"),
            os.path.join(out, "objects"), os.path.join(out, "wm", "w.json"), stats, counts)

    return manifest, out, run


def first_processed(manifest):
    return next((r, d) for r, d in manifest["documents"].items() if d["outcome"] == "processed")


def test_correct_night_passes(night):
    manifest, _out, run = night
    res = run()
    assert res["failed"] == 0, res["problems"]
    assert res["attempted"] == len(manifest["documents"]) + 1
    assert res["quarantined"] == {"fetch_error": 1, "alto_error": 2}
    assert res["replayed_share"] == pytest.approx(0.5, abs=0.05)
    # replayed documents now have two url rows, new ones one
    assert 1.0 < res["url_rows_per_doc"] < 2.0
    assert res["saved_watermark"] == manifest["max_updated_at"][:10]


def test_missing_object_fails_its_document(night):
    manifest, out, run = night
    _rep, d = first_processed(manifest)
    os.remove(os.path.join(out, "objects", d["key"]))
    res = run()
    assert res["failed"] == 1 and "object missing" in res["problems"][0]


def test_object_that_is_not_json_fails(night):
    manifest, out, run = night
    _rep, d = first_processed(manifest)
    with open(os.path.join(out, "objects", d["key"]), "w") as f:
        f.write("{not json")
    assert run()["failed"] == 1


def test_wrong_transcript_and_wrong_url_row_fail(night):
    manifest, out, run = night
    rep, d = first_processed(manifest)
    con = sqlite3.connect(os.path.join(out, "sink.db"))
    con.execute("UPDATE representation SET schema_transcript = 'x' WHERE id = ?", (rep,))
    rep2 = [r for r, x in manifest["documents"].items() if x["outcome"] == "processed"][1]
    con.execute("INSERT INTO schema_transcript_url VALUES (?, 'u')", (rep2,))
    con.commit()
    con.close()
    assert run()["failed"] == 2


def test_object_for_a_quarantined_document_fails(night):
    manifest, out, run = night
    bad = next(d for d in manifest["documents"].values() if d["outcome"] == "alto_error")
    with open(os.path.join(out, "objects", bad["key"]), "w") as f:
        f.write("{}")
    res = run()
    assert res["failed"] == 2  # the document, and the unexpected key


def save_watermark(out, value):
    with open(os.path.join(out, "wm", "w.json"), "w") as f:
        json.dump({"since": value}, f)


@pytest.mark.parametrize("value", ["2099-01-01", "yesterday", None])
def test_late_or_unreadable_watermark_fails(night, value):
    _manifest, out, run = night
    save_watermark(out, value)
    res = run()
    assert res["failed"] == 1 and "watermark" in res["problems"][0]


def test_wrong_counts_fail(night):
    _manifest, _out, run = night
    res = run(counts={"processed": 0, "failed": 0})
    assert res["failed"] == 1 and "run_pipeline counts" in res["problems"][0]


def test_failed_documents_left_behind(night):
    manifest, _out, run = night
    # quarantined documents of day D-1 are older than the saved watermark
    res = run()
    since = pd.Timestamp(manifest["max_updated_at"][:10])
    expected = sum(
        1 for d in manifest["documents"].values()
        if d["outcome"] != "processed" and pd.Timestamp(d["updated_at"]) < since
    )
    assert expected > 0
    assert res["failed_left_behind"] == expected


# The counted defects are not pass/fail conditions: a night with any of
# them fixed passes the check, and only its counter moves.


def test_night_without_replay_passes(night):
    manifest, out, run = night
    # undo what the night did to documents the previous night delivered
    snap = sqlite3.connect(os.path.join(os.path.dirname(out), "inputs", "snapshot.db"))
    con = sqlite3.connect(os.path.join(out, "sink.db"))
    stats = {"per_path": {}}
    for rep, d in manifest["documents"].items():
        if not d["delivered"]:
            stats["per_path"][d["path"]] = [1, 1, 404 if d["outcome"] == "fetch_error" else 200]
            continue
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(out, "objects", d["key"]))
        con.execute("DELETE FROM schema_transcript_url WHERE representation_id = ?", (rep,))
        con.executemany("INSERT INTO schema_transcript_url VALUES (?, ?)", snap.execute(
            "SELECT * FROM schema_transcript_url WHERE representation_id = ?", (rep,)))
    con.commit()
    con.close()
    snap.close()
    n_ok = sum(not d["delivered"] and d["outcome"] == "processed"
               for d in manifest["documents"].values())
    n_bad = sum(not d["delivered"] and d["outcome"] != "processed"
                for d in manifest["documents"].values())
    res = run(stats=stats, counts={"processed": n_ok, "failed": n_bad})
    assert res["failed"] == 0, res["problems"]
    assert res["replayed_share"] == 0.0
    assert res["url_rows_per_doc"] == 1.0


def test_night_without_duplicate_url_rows_passes(night):
    _manifest, out, run = night
    con = sqlite3.connect(os.path.join(out, "sink.db"))
    con.execute("DELETE FROM schema_transcript_url WHERE rowid NOT IN (SELECT min(rowid) "
                "FROM schema_transcript_url GROUP BY representation_id)")
    con.commit()
    con.close()
    res = run()
    assert res["failed"] == 0, res["problems"]
    assert res["url_rows_per_doc"] == 1.0


def test_watermark_that_keeps_failed_documents_passes(night):
    manifest, out, run = night
    oldest_failed = min(d["updated_at"] for d in manifest["documents"].values()
                        if d["outcome"] != "processed")
    save_watermark(out, oldest_failed)
    res = run()
    assert res["failed"] == 0, res["problems"]
    assert res["failed_left_behind"] == 0


def test_exact_timestamp_watermark_passes(night):
    manifest, out, run = night
    save_watermark(out, manifest["max_updated_at"].replace("T", " "))
    assert run()["failed"] == 0


def test_document_not_selected_fails(night):
    manifest, out, run = night
    rep, d = next((r, d) for r, d in manifest["documents"].items()
                  if not d["delivered"] and d["outcome"] == "processed")
    os.remove(os.path.join(out, "objects", d["key"]))
    res = run(stats={"per_path": {}})
    assert f"{rep} (processed): not selected" in res["problems"]


def test_frame_digest_ignores_order_and_numeric_type():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
    b = pd.DataFrame({"v": [2.0, 0.5, float("nan")], "k": [3.0, 1.0, 2.0]})
    assert check.frame_digest(a) == check.frame_digest(b)
    c = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.5]})
    assert check.frame_digest(a) != check.frame_digest(c)


def test_check_query():
    d = {"rows": 2, "sha256": "x"}
    assert check.check_query("q", d, d) is None
    empty = {"rows": 0, "sha256": "y"}
    assert "empty" in check.check_query("q", empty, empty)
    assert "oracle" in check.check_query("q", d, {"rows": 2, "sha256": "z"})
