"""ALTO XML → simplified JSON document engine (reference parity core).

Re-expresses ``script/extract-text-lines-from-alto.js:23956-24059`` as pure
DataFrame column expressions: one ``from_xml`` parse and higher-order array
functions (transform/filter/flatten) for the six-level flatMap — all inside
Catalyst codegen, no per-document process (the reference forks a Node
subprocess per file, flows/main_flow.py:54-58).

The reference's v2 and v3 extractors (js:23956-24041) are near-copies, so
there is ONE description and ONE text array; the root namespace chooses
inside them (SURVEY.md §7.4.1):
- v2 drops strings whose CONTENT is missing OR empty (js:23962,23968-23970);
  v3 keeps them (js:24012-24018).
- v3 ``fileName`` is always null (js:24027).
- page WIDTH/HEIGHT stay strings (js:23997-23998).
- coordinates use JS ``parseInt`` prefix semantics (js:23973-23976):
  "12px"→12, "abc"→null.
- an unsupported namespace reads as a null document: all-null description,
  null text, error message recorded (js:24044-24058).
- attribute and text values keep their surrounding whitespace, as xml2js
  keeps it (``trim: false``, SURVEY.md S3): ``CONTENT=" "`` is truthy and
  survives the v2 filter.

Scale: every document is one row; the whole transform is narrow (no
shuffle). 100 TB of scans parallelize by input split; a skewed giant
document only affects its own task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import js_parse_int
from ..schemas import ALTO_NS_V2, ALTO_NS_V3, ALTO_SCHEMA

#: Error text for the default dispatch branch (js:24045 logs
#: "Unsupported Alto format"), surfaced as a column instead of a log line so
#: a 100 TB job can route bad documents to a quarantine sink.
UNSUPPORTED_FORMAT_ERROR = "Unsupported Alto format"


def _cat(arr: Column, field: str) -> Column:
    """Null-safe flatMap over one hierarchy level: ``arr`` is
    array<struct>, result concatenates each element's array-valued
    ``field``, skipping elements where it is missing (the reference's
    ``?.flatMap`` / ``toArray`` defense, js:23950-23955, 24006-24011).
    """
    lists = F.filter(
        F.transform(arr, lambda x: x.getField(field)), lambda a: a.isNotNull()
    )
    return F.flatten(lists)


def _strings(parsed: Column) -> Column:
    """array<String-element> in document order: the six-level flatMap
    Layout→Page→PrintSpace→TextBlock→TextLine→String (js:23962-23967)."""
    layouts = F.coalesce(parsed.getField("Layout"), F.array())
    pages = _cat(layouts, "Page")
    printspaces = _cat(pages, "PrintSpace")
    blocks = _cat(printspaces, "TextBlock")
    lines = _cat(blocks, "TextLine")
    return _cat(lines, "String")


def _line_struct(s: Column) -> Column:
    """One simplified text-line record (js:23971-23977)."""
    return F.struct(
        s.getField("_CONTENT").alias("text"),
        js_parse_int(s.getField("_HPOS")).alias("x"),
        js_parse_int(s.getField("_VPOS")).alias("y"),
        js_parse_int(s.getField("_WIDTH")).alias("width"),
        js_parse_int(s.getField("_HEIGHT")).alias("height"),
    )


def _first(arr: Column) -> Column:
    """Null-safe head — xml2js wraps every child in an array, the reference
    reads ``[0]`` throughout (js:23986-23998). ``F.get`` returns null when
    the array is null/empty even under ANSI mode."""
    return F.get(arr, 0)


def _description(doc: Column, is_v2: Column) -> Column:
    """The 8-field description struct (js:23985-23999 v2, :24025-24041 v3);
    every field is null when ``doc`` is."""
    desc = _first(doc.getField("Description"))
    source_image = _first(desc.getField("sourceImageInformation"))
    step = _first(
        _first(desc.getField("OCRProcessing")).getField("ocrProcessingStep")
    )
    software = _first(step.getField("processingSoftware"))
    page = _first(_first(doc.getField("Layout")).getField("Page"))
    return F.struct(
        # v3 never emits a fileName (hardcoded undefined, js:24027)
        F.when(is_v2, _first(source_image.getField("fileName"))).alias("fileName"),
        _first(step.getField("processingDateTime")).alias("processingDateTime"),
        _first(step.getField("processingStepSettings")).alias(
            "processingStepSettings"
        ),
        _first(software.getField("softwareCreator")).alias("softwareCreator"),
        _first(software.getField("softwareName")).alias("softwareName"),
        _first(software.getField("softwareVersion")).alias("softwareVersion"),
        # kept as strings, never parseInt'd (js:23997-23998)
        page.getField("_WIDTH").alias("width"),
        page.getField("_HEIGHT").alias("height"),
    )


def simplify_alto(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """Full per-document transform: parse → extract.

    Adds ``simplified`` (struct<description, text> — SIMPLIFIED_DOC_SCHEMA
    shape) and ``alto_error`` (null | 'Unsupported Alto format', the default
    branch js:24044-24058).

    ``from_xml`` is Spark-native (JVM, no Python boundary) and mirrors the
    reference's xml2js call (js:24064): arrays at every level (the
    ``explicitArray: true`` shape, js:19016) and values left untrimmed
    (``trim: false``). It runs in its own projection, once per row.

    One description and one text array serve both versions. The document
    is null unless the namespace is v2 or v3, so an unsupported one reads
    as an all-null description and a null text. One filter carries both
    version rules: v2 drops missing and empty CONTENT, v3 keeps every
    String. ``fileName`` is read for v2 only.
    """
    parsed = F.col("__alto_parsed")
    ns = parsed.getField("_xmlns")
    is_v2, is_v3 = ns == ALTO_NS_V2, ns == ALTO_NS_V3
    supported = is_v2 | is_v3
    doc = F.when(supported, parsed)
    # v2 falsy filter (js:23962,23968-23970): a null CONTENT makes the
    # predicate null, which drops the String too; v3 keeps all (js:24012-24018)
    kept = F.filter(
        _strings(parsed), lambda s: is_v3 | (s.getField("_CONTENT") != "")
    )
    simplified = F.struct(
        _description(doc, is_v2).alias("description"),
        F.when(supported, F.transform(kept, _line_struct)).alias("text"),
    )
    error = F.when(supported, F.lit(None).cast("string")).otherwise(
        F.lit(UNSUPPORTED_FORMAT_ERROR)
    )
    options = {"attributePrefix": "_", "ignoreSurroundingSpaces": "false"}
    return (
        df.withColumn("__alto_parsed", F.from_xml(F.col(xml_col), ALTO_SCHEMA, options))
        .withColumns({"simplified": simplified, "alto_error": error})
        .drop("__alto_parsed")
    )


def transcript(simplified: Column | str) -> Column:
    """Space-join of text lines in document order (flows/main_flow.py:65-70).

    Array-based, so ordering is structurally guaranteed — no
    collect_list-after-shuffle hazard (SURVEY.md §7.4.2). Null text (e.g.
    unsupported namespace) yields a null transcript; null *elements* are
    skipped like Python would raise — empty strings are kept, producing the
    same double-space the reference produces.
    """
    c = F.col(simplified) if isinstance(simplified, str) else simplified
    return F.array_join(
        F.transform(c.getField("text"), lambda t: t.getField("text")), " "
    )


def simplified_json(simplified: Column | str) -> Column:
    """Canonical JSON serialization of the simplified document.

    The reference pretty-prints with 2-space indent and drops ``undefined``
    keys while keeping explicit ``null`` (JSON.stringify, js:24071). Spark
    has a single null; the engine's canonical form keeps every field
    explicitly null (``ignoreNullFields=false``) and is compact — the
    pretty-printing is a sink concern (sinks/objects.py), documented delta
    from the reference's bytes.
    """
    c = F.col(simplified) if isinstance(simplified, str) else simplified
    return F.to_json(c, {"ignoreNullFields": "false"})
