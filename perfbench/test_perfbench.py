"""Tests of the benchmark itself (no Spark session):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import io
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, metrics, tracing  # noqa: E402
from siren_spark.testing.benchgen import article_page, index_page  # noqa: E402
from siren_spark.urls import canonicalize_url  # noqa: E402


@pytest.fixture(scope="module")
def base_pages() -> pa.Table:
    """A small web in the bench shape, built without Spark."""
    links, domains = 100, 5
    rows = []
    for i in range(4):
        url, html = index_page(i, links, domains)
        rows.append((url, html))
    for aid in range(4 * links):
        url, html, _text = article_page(aid, links, domains)
        rows.append((url, html))
    rows.sort()
    return pa.table({
        "url": [u for u, _ in rows],
        "url_canon": [canonicalize_url(u) for u, _ in rows],
        "html": [h.encode() for _, h in rows],
    })


def _bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_same_seed_same_bytes(base_pages):
    assert _bytes(inputs.seeded_pages(base_pages, 7)) == \
        _bytes(inputs.seeded_pages(base_pages, 7))
    assert _bytes(inputs.page_sample(base_pages, 7)) == \
        _bytes(inputs.page_sample(base_pages, 7))


def test_other_seed_other_input(base_pages):
    a = inputs.seeded_pages(base_pages, 7)
    b = inputs.seeded_pages(base_pages, 8)
    assert _bytes(a) != _bytes(b)
    # the withheld sets differ, not only the row order
    assert set(a.column("url").to_pylist()) != set(b.column("url").to_pylist())


def test_withheld_pages_are_articles(base_pages):
    rows = inputs.withheld_rows(base_pages, 3)
    urls = base_pages.column("url").to_pylist()
    assert rows and all("/news/story-" in urls[i] for i in rows)
    kept = inputs.seeded_pages(base_pages, 3)
    assert kept.num_rows == base_pages.num_rows - len(rows)


def test_metric_names_and_units_match_benchmark_json():
    bench = metrics.load_benchmark_json(ROOT)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    for m in bench["end_to_end"] + bench["per_layer"]:
        want = "higher" if m["name"] in metrics.HIGHER_IS_BETTER else "lower"
        assert m["better"] == want, m["name"]
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    for name in metrics.PER_LAYER:
        metrics.target_of(name)    # every layer metric has a stated target


def test_result_line_refuses_unknown_names():
    values = {k: 1.0 for k in metrics.END_TO_END}
    line = metrics.result_line(True, 10, 0, values, trace=False)
    assert '"setup_s": {"value": 1.0, "unit": "s"}' in line
    with pytest.raises(ValueError):
        metrics.result_line(True, 10, 0, {**values, "extra": 1.0}, trace=False)


def test_union_length_and_driver_gap():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    t = tracing.Tracer.__new__(tracing.Tracer)
    t.spans = [tracing.Span("a", "annotate", "main", 1.0, 3.0),
               tracing.Span("b", "results", "pool", 2.0, 4.0),
               tracing.Span("c", "annotate", "main", 6.0, 9.0)]
    # round windows end at the last span end: [0, 5) and [5, 9)
    first, second = t.per_round([5.0, 4.0])
    assert (first["annotate"], first["results"], first["driver_gap"]) == \
        pytest.approx((2.0, 2.0, 2.0))
    assert (second["annotate"], second["driver_gap"]) == pytest.approx((3.0, 1.0))
    assert t.driver_gap_s([5.0, 4.0]) == pytest.approx(2.0 + 1.0)
