"""The extraction kernel's semantics on adversarial pages.

`extract._extract_batch` is RE2 + pyarrow.compute. These fixtures pin
where that differs from a Python-`re` reading of the same patterns
(Unicode digits, over-long digit runs) and the contracts every caller
relies on (nulls for non-matching rows, entity decode order, -0).
"""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa

from osm_notes_ingestion_spark.operators.extract import _extract_batch, extract_pages


def _extract(*htmls):
    n = len(htmls)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(range(n), pa.int64()),
            pa.array([f"u{i}" for i in range(n)]),
            pa.array([None] * n, pa.timestamp("us", tz="UTC")),
            pa.array(["en"] * n),
            pa.array(htmls, pa.string()),
        ],
        names=["id", "url", "warc_ts", "lang", "html"],
    )
    return _extract_batch(batch).to_pylist()


def test_unicode_digits_fall_through_to_next_format():
    """RE2's \\d is ASCII-only (as the reference's byte-wise AWK): a meta
    tag with Arabic-Indic digits is not a match, so the div supplies the
    coordinates. (Python re's \\d matched it, failed the parse and never
    tried the div.)"""
    (row,) = _extract(
        '<meta name="geo.position" content="٤٢.5;1.0"><div data-lat="10.5" data-lon="20.25"></div>'
    )
    assert (row["lat"], row["lon"]) == (10.5, 20.25)
    assert (row["lat_e6"], row["lon_e6"]) == (10_500_000, 20_250_000)
    assert row["has_coords"] and not row["rejected"]


def test_overlong_digit_run_is_rejected():
    """A digit run too long for float64 parses to inf: out of range, so
    rejected (the reference's range check), not silently coordinate-less."""
    (row,) = _extract("GPS: " + "9" * 400 + ".5, 1.0")
    assert row["rejected"] and not row["has_coords"]
    assert row["lat"] is row["lon"] is row["lat_e6"] is row["lon_e6"] is None


def test_non_matching_rows_are_null_not_empty():
    rows = _extract("<html>no coords, no text</html>", "", None)
    for row in rows:
        assert row["lat"] is row["lon"] is row["lat_e6"] is row["lon_e6"] is None
        assert row["text"] is None
        assert not row["has_coords"] and not row["rejected"]


def test_first_format_wins_and_range_bounds():
    rows = _extract(
        '<meta name="geo.position" content="1.0;2.0"> data-lat="3.0" data-lon="4.0" GPS: 5.0, 6.0',
        'data-lat="3.0" data-lon="4.0" GPS: 5.0, 6.0',
        "GPS: 90.000000, -180.000000",
        "GPS: 90.000001, 0.0",
        'data-lat="0.0" data-lon="-180.000001"',
    )
    assert [(r["lat"], r["lon"]) for r in rows[:3]] == [(1.0, 2.0), (3.0, 4.0), (90.0, -180.0)]
    assert [r["has_coords"] for r in rows] == [True, True, True, False, False]
    assert [r["rejected"] for r in rows] == [False, False, False, True, True]


def test_entity_decode_order_amp_last():
    (row,) = _extract('<p class="c">&amp;lt; &lt;b&gt; &quot;q&quot; &apos;a&apos; &amp;amp;</p>')
    assert row["text"] == "&lt; <b> \"q\" 'a' &amp;"


def test_negative_zero_coordinate():
    (row,) = _extract('<meta name="geo.position" content="-0.000000;-0.000000">')
    assert row["has_coords"] and not row["rejected"]
    assert row["lat"] == 0.0 and math.copysign(1.0, row["lat"]) == -1.0
    assert (row["lat_e6"], row["lon_e6"]) == (0, 0)


def test_e6_rounds_half_to_even():
    # 0.0000005 * 1e6 == 0.5 and 0.0000025 * 1e6 == 2.5 exactly in float64
    rows = _extract("GPS: 0.0000005, 0.0000025", "GPS: -0.0000015, 1.0000004")
    assert [(r["lat_e6"], r["lon_e6"]) for r in rows] == [(0, 2), (-2, 1_000_000)]


def test_extract_pages_casts_pass_through_columns(spark):
    """The Arrow batch is handed back as is, so a narrower id and a
    TIMESTAMP_NTZ warc_ts are cast to EXTRACT_SCHEMA's types before it."""
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    pages = spark.createDataFrame(
        [(7, "u", ts, '<p class="c">x</p> GPS: 1.5, 2.5', "en")],
        "id int, url string, warc_ts timestamp_ntz, html string, lang string",
    )
    ext = extract_pages(pages)
    assert ext.schema["id"].dataType.simpleString() == "bigint"
    assert ext.schema["warc_ts"].dataType.simpleString() == "timestamp"
    (row,) = ext.collect()
    assert (row.id, row.warc_ts, row.text, row.lat, row.lon) == (7, ts, "x", 1.5, 2.5)
