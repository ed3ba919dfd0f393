"""Coordinate + text extraction from raw page HTML (Arrow-batched).

The engine's analog of the reference's AWK extraction layer:
- awk/extract_notes.awk:25-108  — note_id/lat/lon extraction with
  format auto-detection (Planet attr vs API subtag); here: three HTML
  coordinate formats auto-detected per page;
- awk/extract_comment_texts.awk:65-160 — multiline text accumulation +
  HTML entity decode with &amp; decoded LAST (golden-parity detail);
- bin/lib/functionsProcess.sh:2705-2843 — coordinate range validation
  (lat∈[-90,90], lon∈[-180,180]); rejects are surfaced as a metrics
  counter, not dropped silently.

Implemented as one Arrow batch kernel (`_extract_batch`) run through
mapInArrow: RE2 regexes, casts and substring replaces from pyarrow.compute,
no per-row Python. RE2's `\\d` is ASCII-only, like the reference's
byte-wise AWK. Output preserves bytes: text is decoded from the UTF-8 html
and re-emitted unmodified (byte-identical per url, the input_hint invariant).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# decode order matters: amp LAST (awk/extract_comment_texts.awk:74-89)
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"), ("&amp;", "&")]

# tried in this order per page; the first format that matches wins
_COORD_RES = [
    r'<meta name="geo\.position" content="(?P<lat>-?\d+\.\d+);(?P<lon>-?\d+\.\d+)"',
    r'data-lat="(?P<lat>-?\d+\.\d+)" data-lon="(?P<lon>-?\d+\.\d+)"',
    r"GPS: (?P<lat>-?\d+\.\d+), (?P<lon>-?\d+\.\d+)",
]
_TEXT_OPEN, _TEXT_CLOSE = '<p class="c">', "</p>"

_PASS_THROUGH = {"id": "long", "url": "string", "warc_ts": "timestamp", "lang": "string"}
EXTRACT_SCHEMA = (
    "id long, url string, warc_ts timestamp, lang string, "
    "lat double, lon double, lat_e6 long, lon_e6 long, text string, "
    "has_coords boolean, rejected boolean"
)


def _e6(deg: pa.Array) -> pa.Array:
    # half-to-even, as numpy's round
    return pc.cast(pc.round(pc.multiply(deg, 1e6), round_mode="half_to_even"), pa.int64())


def _extract_batch(b: pa.RecordBatch) -> pa.RecordBatch:
    """One Arrow batch of pages → its extracted rows (EXTRACT_SCHEMA)."""
    html = b.column("html")
    # a non-matching row is a null struct over "" children; flatten()
    # merges the struct's validity into each child, so it reads null
    lats, lons = zip(*(pc.extract_regex(html, pat).flatten() for pat in _COORD_RES))
    lat = pc.cast(pc.coalesce(*lats), pa.float64())
    lon = pc.cast(pc.coalesce(*lons), pa.float64())

    # a digit run too long for float64 parses to ±inf → out of range
    in_range = pc.and_kleene(pc.less_equal(pc.abs(lat), 90.0), pc.less_equal(pc.abs(lon), 180.0))
    valid = pc.fill_null(in_range, False)
    rejected = pc.and_(lat.is_valid(), pc.invert(valid))
    lat = pc.if_else(valid, lat, None)
    lon = pc.if_else(valid, lon, None)

    # the text runs from the first opening tag to the first closing tag
    # after it: what `(?s)<p class="c">(.*?)</p>` captures (pinned against
    # Python re in tests), by two literal splits: RE2's capture pass over
    # the lazy `.*?` took ~60% of the kernel's time
    opened = pc.split_pattern(html, _TEXT_OPEN, max_splits=1)
    rest = pc.list_element(pc.if_else(pc.equal(pc.list_value_length(opened), 2), opened, None), 1)
    closed = pc.split_pattern(rest, _TEXT_CLOSE, max_splits=1)
    text = pc.if_else(pc.equal(pc.list_value_length(closed), 2), pc.list_element(closed, 0), None)
    for ent, ch in _ENTITIES:
        text = pc.replace_substring(text, ent, ch)

    return pa.RecordBatch.from_pydict({
        **{c: b.column(c) for c in _PASS_THROUGH},
        "lat": lat, "lon": lon, "lat_e6": _e6(lat), "lon_e6": _e6(lon),
        "text": text, "has_coords": valid, "rejected": rejected,
    })


def _kernel_input(pages: DataFrame) -> DataFrame:
    """pages → the kernel's input: pass-through columns cast to their
    EXTRACT_SCHEMA types (mapInArrow takes the kernel's batch as is, so an
    int id or a TIMESTAMP_NTZ warc_ts is cast here) and the html decoded.

    The UTF-8 decode happens JVM-side with U+FFFD replacement for
    malformed bytes — real crawl data contains invalid UTF-8, and under
    Spark 4's ANSI mode `F.decode(.., 'UTF-8')` THROWS on it (a poisoned
    page would kill a 100 TB job). `CAST(binary AS STRING)` wraps the raw
    bytes without validation and `make_valid_utf8` replaces invalid
    sequences; replacement never alters valid pages, so the byte-identity
    invariant holds.
    """
    return pages.select(
        *(F.col(c).cast(t) for c, t in _PASS_THROUGH.items()),
        F.expr("make_valid_utf8(CAST(html AS STRING))").alias("html"),
    )


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(id,url,warc_ts,html,lang) → extracted rows (see EXTRACT_SCHEMA)."""

    def extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return map(_extract_batch, batches)

    return _kernel_input(pages).mapInArrow(extract, schema=EXTRACT_SCHEMA)


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Reject/valid counters — the reference's validation reporting
    (functionsProcess.sh:2705+) as an explicit aggregation, never a UDF
    side effect."""
    return extracted.agg(
        F.count("*").alias("n_pages"),
        F.sum(F.col("has_coords").cast("long")).alias("n_valid_coords"),
        F.sum(F.col("rejected").cast("long")).alias("n_rejected"),
        F.sum((~F.col("has_coords") & ~F.col("rejected")).cast("long")).alias("n_no_coords"),
    )
