"""Property-based ALTO checks (SURVEY.md §5.4): random document trees →
invariants of the extraction, independent of any golden file.

Invariants (reference script/extract-text-lines-from-alto.js):
- transcript == space-join of kept CONTENTs in document order (:23962-24001)
- v2 drops missing/empty CONTENT; v3 keeps empty strings and, as a null
  text, missing ones (:23968-23970 vs :24012-24018)
- whitespace around CONTENT is kept (xml2js ``trim: false``)
- line count == kept String count
- coords parse via parseInt semantics (prefix parse, null on no digits)
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from prefect_flow_arc_alto_to_json_spark.operators.alto import (
    simplify_alto,
    transcript,
)

ALTO_NS = {
    "v2": "http://www.loc.gov/standards/alto/ns-v2#",
    "v3": "http://www.loc.gov/standards/alto/ns-v3#",
}

# words without XML-special chars; the empty string exercises the v2 falsy
# filter, whitespace-padded words that values keep their spaces (xml2js
# never trims), and None a String without CONTENT
_word = st.one_of(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7F
        ),
        max_size=8,
    ),
    st.sampled_from([" ", " a "]),
)
_coord = st.one_of(st.integers(0, 9999).map(str), st.just(""), st.just("x12"))
_string_el = st.tuples(st.one_of(_word, st.none()), _coord, _coord)
_textline = st.lists(_string_el, max_size=4)
_textblock = st.lists(_textline, max_size=3)
_page = st.lists(_textblock, max_size=3)
_doc = st.lists(_page, max_size=2)


def _build_xml(version: str, pages) -> str:
    ns = ALTO_NS[version]
    out = [f'<alto xmlns="{ns}"><Layout>']
    for blocks in pages:
        out.append("<Page><PrintSpace>")
        for lines in blocks:
            out.append("<TextBlock>")
            for strings in lines:
                out.append("<TextLine>")
                for content, h, v in strings:
                    attr = "" if content is None else f'CONTENT="{content}" '
                    out.append(
                        f'<String {attr}HPOS="{h}" VPOS="{v}" '
                        f'WIDTH="10" HEIGHT="10"/>'
                    )
                out.append("</TextLine>")
            out.append("</TextBlock>")
        out.append("</PrintSpace></Page>")
    out.append("</Layout></alto>")
    return "".join(out)


def _expected_lines(version: str, pages):
    kept = []
    for blocks in pages:
        for lines in blocks:
            for strings in lines:
                for content, _h, _v in strings:
                    if version == "v2" and not content:
                        continue  # falsy filter (missing or ""), v2 only
                    kept.append(content)
    return kept


@pytest.mark.parametrize("version", ["v2", "v3"])
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pages=_doc)
def test_transcript_is_ordered_join_of_kept_contents(spark, version, pages):
    xml = _build_xml(version, pages)
    df = spark.createDataFrame([("d", xml)], "name string, xml string")
    row = (
        simplify_alto(df)
        .withColumn("transcript", transcript("simplified"))
        .collect()[0]
    )
    expected = _expected_lines(version, pages)
    assert row["alto_error"] is None
    got_lines = [t["text"] for t in row["simplified"]["text"]]
    assert got_lines == expected
    # a v3 line without CONTENT has a null text, which the join skips
    assert row["transcript"] == " ".join(t for t in expected if t is not None)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(coord=_coord)
def test_coords_follow_parseint_semantics(spark, coord):
    xml = _build_xml("v2", [[[[("w", coord, "5")]]]])
    df = spark.createDataFrame([("d", xml)], "name string, xml string")
    row = simplify_alto(df).collect()[0]
    line = row["simplified"]["text"][0]
    digits = ""
    for ch in coord:
        if ch.isdigit() or (ch in "+-" and not digits):
            digits += ch
        else:
            break
    expected = int(digits) if digits and digits not in "+-" else None
    assert line["x"] == expected


# ---------------------------------------------------------------------------
# Full-pipeline fuzz (round-5): a generated MIXED corpus — v2/v3 trees,
# unsupported namespaces, malformed XML, dead URLs — through run_pipeline's
# quarantine branch (pipeline.py:117-124), with every expectation computed
# independently in Python: which docs process, which quarantine, and the
# exact per-doc transcript the object sink must emit.
# ---------------------------------------------------------------------------


def _random_pages(rng):
    """Random ALTO structure: pages -> blocks -> lines -> (content, h, v)."""
    def word():
        if rng.random() < 0.15:
            return ""  # exercises the v2 falsy filter
        return "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyzABC123")
            for _ in range(rng.randint(1, 8))
        )

    def coord():
        r = rng.random()
        if r < 0.6:
            return str(rng.randint(0, 9999))
        return rng.choice(["", "x12", "12x9", "+", "-3"])

    return [
        [
            [
                [(word(), coord(), coord()) for _ in range(rng.randint(0, 4))]
                for _ in range(rng.randint(0, 3))
            ]
            for _ in range(rng.randint(0, 3))
        ]
        for _ in range(rng.randint(0, 2))
    ]


def test_pipeline_quarantine_fuzz(spark, tmp_path):
    """>= 200 random trees through the FULL pipeline: processed/failed
    counts, the object-sink file set, and every emitted transcript must
    equal the Python-computed expectation; quarantined docs must emit no
    object."""
    import json
    import random

    from prefect_flow_arc_alto_to_json_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    rng = random.Random(20260813)
    n_docs = 220
    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    rows, expect_ok, expect_failed = [], {}, set()
    for i in range(n_docs):
        name = f"d{i}.xml"
        kind = rng.choices(
            ["v2", "v3", "bad_ns", "malformed", "dead_url"],
            weights=[35, 35, 12, 9, 9],
        )[0]
        url = f"file://{xml_dir}/{name}"
        if kind in ("v2", "v3"):
            pages = _random_pages(rng)
            (xml_dir / name).write_text(_build_xml(kind, pages))
            expect_ok[name] = _expected_lines(kind, pages)
        elif kind == "bad_ns":
            (xml_dir / name).write_text(
                '<alto xmlns="http://example.com/not-alto#"><Layout/></alto>'
            )
            expect_failed.add(name)
        elif kind == "malformed":
            (xml_dir / name).write_text("<alto><Layout><unclosed")
            expect_failed.add(name)
        else:  # dead_url: file never written
            url = f"file://{xml_dir}/missing_{name}"
            expect_failed.add(name)
        rows.append(
            (
                f"f{i}",
                f"rep{i}",
                url,
                "application/xml",
                "alto",
                __import__("datetime").datetime(2024, 1, 1 + (i % 28)),
            )
        )
    cat_dir = str(tmp_path / "catalog")
    spark.createDataFrame(
        rows,
        "id string, representation_id string, premis_stored_at string,"
        "ebucore_has_mime_type string, schema_name string, updated_at timestamp",
    ).write.parquet(os.path.join(cat_dir, "file.parquet"))
    spark.createDataFrame(
        [(f"f{i}",) for i in range(n_docs)], "file_id string"
    ).write.parquet(os.path.join(cat_dir, "includes.parquet"))

    objects_dir = str(tmp_path / "objects")
    counts = run_pipeline(
        spark,
        PipelineConfig(catalog_dir=cat_dir, objects_target=objects_dir, full_sync=True),
    )
    assert counts == {"processed": len(expect_ok), "failed": len(expect_failed)}
    emitted = sorted(os.listdir(objects_dir))
    assert emitted == sorted(f"{n}.json" for n in expect_ok)
    for name, lines in expect_ok.items():
        with open(os.path.join(objects_dir, f"{name}.json")) as f:
            payload = json.load(f)
        assert [t["text"] for t in payload["text"]] == lines, name
