"""Seeded input generator: determinism, sizes, planted faults, manifest hash."""

import json
import os
import xml.etree.ElementTree as ET

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import gen


def reference_transcript(xml: str) -> str:
    """Independent reading of the ALTO semantics: v2 drops strings whose
    CONTENT is empty, v3 keeps them; text joins with single spaces."""
    root = ET.fromstring(xml)
    ns = root.tag[1:].split("}")[0]
    words = [s.get("CONTENT") for s in root.iter(f"{{{ns}}}String")]
    if ns == gen.NS_V2:
        words = [w for w in words if w]
    return " ".join(words)


def test_same_seed_same_inputs(tmp_path, small_sizes):
    a = gen.generate(str(tmp_path / "a"), "nightly_delta", 7)
    b = gen.generate(str(tmp_path / "b"), "nightly_delta", 7)
    c = gen.generate(str(tmp_path / "c"), "nightly_delta", 8)
    assert a["inputs_sha256"] == b["inputs_sha256"]
    assert a["documents"] == b["documents"]
    assert a["inputs_sha256"] != c["inputs_sha256"]


def test_counts_do_not_depend_on_the_seed(tmp_path, small_sizes):
    sizes = gen.PIPELINE_SIZES["nightly_delta"]
    for seed in (1, 2, 3):
        m = gen.generate(str(tmp_path / str(seed)), "nightly_delta", seed)
        assert m["catalog_rows"] == sizes["rows_per_day"] * sizes["days"]
        # two days selected (watermark at D-1), half of each day's rows valid
        assert m["selected"] == sizes["rows_per_day"]
        assert m["replayed"] == sizes["rows_per_day"] // 2
        faults = [d["fault"] for d in m["documents"].values()]
        k = max(1, round(gen.FAULT_SHARE * m["selected"]))
        for kind in gen.FAULTS:
            assert faults.count(kind) == k


def test_selection_matches_the_catalog_sql(tmp_path, small_sizes):
    m = gen.generate(str(tmp_path / "n"), "nightly_delta", 3)
    cat = os.path.join(str(tmp_path / "n"), "catalog")
    f = pq.read_table(os.path.join(cat, "file.parquet")).to_pandas()
    inc = set(pq.read_table(os.path.join(cat, "includes.parquet")).column("file_id").to_pylist())
    since = np.datetime64(m["snapshot_watermark"])
    sel = f[(f.ebucore_has_mime_type == "application/xml")
            & f.schema_name.str.contains("alto")
            & f.id.isin(inc)
            & (f.updated_at >= since)]
    assert set(sel.representation_id) == set(m["documents"])
    assert pd.Timestamp(m["max_updated_at"]) == sel.updated_at.max()


def test_corpus_and_fault_plan_agree_with_the_manifest(tmp_path, small_sizes):
    out = str(tmp_path / "b")
    m = gen.generate(out, "backfill", 5)
    with open(os.path.join(out, "fault_plan.json")) as fh:
        plan = json.load(fh)
    for d in m["documents"].values():
        path = os.path.join(out, "corpus", d["path"].lstrip("/"))
        if d["fault"] == "missing":
            assert plan[d["path"]] == "missing" and not os.path.exists(path)
            assert d["outcome"] == "fetch_error"
            continue
        with open(path, encoding="utf-8") as fh:
            xml = fh.read()
        if d["fault"] in ("unsupported_ns", "malformed"):
            assert d["outcome"] == "alto_error" and d["digest"] is None
        else:
            assert d["outcome"] == "processed"
            assert gen.sha1(reference_transcript(xml)) == d["digest"]
        assert (plan.get(d["path"]) == "transient") == (d["fault"] == "transient")


@pytest.mark.parametrize("version", [2, 3])
def test_alto_document_transcript(version):
    rng = np.random.default_rng(0)
    for _ in range(20):
        xml, text = gen.alto_document(rng, version, big=False)
        assert reference_transcript(xml) == text


def test_manifest_hash_detects_changed_inputs(tmp_path, small_sizes):
    out = str(tmp_path / "n")
    gen.generate(out, "nightly_delta", 1)
    gen.load_verified(out)
    with open(os.path.join(out, "snapshot.json"), "w") as fh:
        json.dump({"since": "2000-01-01"}, fh)
    with pytest.raises(RuntimeError, match="manifest hash"):
        gen.load_verified(out)


def test_documents_have_a_fixed_duplicate_structure():
    for seed in (1, 2):
        docs = gen._documents(np.random.default_rng(seed), 500).to_pandas()
        assert len(docs) == 500
        assert docs.text.duplicated().sum() >= 500 // 5 // 3
        assert (docs.n_chars == docs.text.str.len()).all()
