"""Golden-document tests for the ALTO engine (SURVEY.md §5.1).

Each assertion pins a behavior of the reference transform
(script/extract-text-lines-from-alto.js:23956-24059), including the
v2-vs-v3 semantic deltas that are easy to flatten away by accident.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_alto_to_json_spark.operators.alto import (
    UNSUPPORTED_FORMAT_ERROR,
    simplified_json,
    simplify_alto,
    transcript,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


#: An unknown namespace over a document that has a Description and a page
#: WIDTH: the reference returns every field undefined (js:24044-24058)
UNSUPPORTED_WITH_DESCRIPTION = (
    '<alto xmlns="http://www.loc.gov/standards/alto/ns-v4#"><Description>'
    "<sourceImageInformation><fileName>p.tif</fileName></sourceImageInformation>"
    "<OCRProcessing><ocrProcessingStep><processingSoftware>"
    "<softwareName>FineReader</softwareName></processingSoftware>"
    "</ocrProcessingStep></OCRProcessing></Description>"
    '<Layout><Page WIDTH="2480"><PrintSpace><TextBlock><TextLine>'
    '<String CONTENT="Hello"/></TextLine></TextBlock></PrintSpace></Page>'
    "</Layout></alto>"
)


def _load(spark, *names, inline=()):
    rows = list(inline)
    for n in names:
        with open(os.path.join(FIXTURES, f"{n}.xml")) as f:
            rows.append((n, f.read()))
    return spark.createDataFrame(rows, "name string, xml string")


@pytest.fixture(scope="module")
def simplified(spark):
    df = _load(
        spark,
        "alto_v2",
        "alto_v3",
        "alto_unsupported_ns",
        "alto_v2_bad_coords",
        "alto_v2_no_description",
        inline=[("unsupported_with_description", UNSUPPORTED_WITH_DESCRIPTION)],
    )
    out = simplify_alto(df).withColumn("transcript", transcript("simplified"))
    return {r["name"]: r for r in out.collect()}


def test_v2_text_lines_and_falsy_filter(simplified):
    doc = simplified["alto_v2"]["simplified"]
    # empty CONTENT dropped (js:23968-23970) → 4 of 5 strings survive
    texts = [t["text"] for t in doc["text"]]
    assert texts == ["Hello", "world", "again", "block2"]
    first = doc["text"][0]
    assert (first["x"], first["y"], first["width"], first["height"]) == (
        100,
        200,
        50,
        20,
    )


def test_v2_description(simplified):
    d = simplified["alto_v2"]["simplified"]["description"]
    assert d["fileName"] == "page_0001.tif"
    assert d["processingDateTime"] == "2023-05-01"
    assert d["processingStepSettings"] == "dpi:300"
    assert d["softwareCreator"] == "ABBYY"
    assert d["softwareName"] == "FineReader"
    assert d["softwareVersion"] == "12.0"
    # strings, never ints (js:23997-23998)
    assert d["width"] == "2480" and d["height"] == "3508"


def test_v2_transcript_document_order(simplified):
    assert simplified["alto_v2"]["transcript"] == "Hello world again block2"


def test_v3_keeps_empty_content_and_nulls_filename(simplified):
    doc = simplified["alto_v3"]["simplified"]
    texts = [t["text"] for t in doc["text"]]
    # v3 has no falsy filter (js:24012-24018): empty string kept
    assert texts == ["Bonjour", "", "monde"]
    # fileName hardcoded undefined in v3 (js:24027)
    assert doc["description"]["fileName"] is None
    assert doc["description"]["softwareName"] == "tesseract-ocr"
    # empty string contributes a double space, like " ".join
    assert simplified["alto_v3"]["transcript"] == "Bonjour  monde"


def test_v3_empty_textblock_contributes_nothing(simplified):
    # <TextBlock/> with no TextLine must not error (?. chain js:24010)
    assert len(simplified["alto_v3"]["simplified"]["text"]) == 3


def test_unsupported_namespace(simplified):
    for name in ("alto_unsupported_ns", "unsupported_with_description"):
        row = simplified[name]
        doc = row["simplified"]
        assert row["alto_error"] == UNSUPPORTED_FORMAT_ERROR, name
        assert doc["text"] is None, name
        assert all(v is None for v in doc["description"].asDict().values()), name
        assert row["transcript"] is None, name


def test_js_parse_int_semantics(simplified):
    # parseInt("12px")→12, "-7junk"→-7, "abc"→null, ""→null (js:23973-23976)
    line = simplified["alto_v2_bad_coords"]["simplified"]["text"][0]
    assert line["x"] == 12
    assert line["y"] == -7
    assert line["width"] is None
    assert line["height"] is None


def test_missing_description_gives_nulls(simplified):
    doc = simplified["alto_v2_no_description"]["simplified"]
    d = doc["description"]
    assert d["fileName"] is None and d["softwareName"] is None
    # page present but without WIDTH/HEIGHT attrs
    assert d["width"] is None and d["height"] is None
    assert [t["text"] for t in doc["text"]] == ["solo"]


def test_simplified_json_round_trip(spark):
    import json

    df = _load(spark, "alto_v2")
    out = simplify_alto(df).select(simplified_json("simplified").alias("js"))
    payload = json.loads(out.first()["js"])
    assert payload["description"]["fileName"] == "page_0001.tif"
    assert [t["text"] for t in payload["text"]] == [
        "Hello",
        "world",
        "again",
        "block2",
    ]


def test_narrow_plan_no_shuffle(spark):
    """The document transform must stay shuffle-free (scale invariant)."""
    df = _load(spark, "alto_v2")
    out = simplify_alto(df).withColumn("transcript", transcript("simplified"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
