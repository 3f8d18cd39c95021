"""OCR operators (K8, J5/A6): ``ocr_text`` and ``ocr_page_chunks``.

Without tesseract/PIL installed, the operators run with no engine or a
stub one (reference semantics: errors and a missing engine -> '',
ocr.py:45-49). The two skip-marked tests are the *real engine*
evidence, mirroring tests/test_sources_iceberg.py: on a host with
pytesseract + Pillow installed they wire the reference's own engine
shape (grayscale PIL image -> image_to_string, ocr.py:31-44) into
``set_ocr_engine`` and run both operators end to end against it,
asserting both the happy path and the errors->'' contract.
"""

from __future__ import annotations

import importlib.util

import pytest

from siren_spark.functions.ocr import ocr_text, set_ocr_engine


def _have(mod: str) -> bool:
    return importlib.util.find_spec(mod) is not None


requires_tesseract = pytest.mark.skipif(
    not (_have("pytesseract") and _have("PIL")),
    reason="pytesseract/Pillow absent (no OCR runtime installed; "
           "pip install pytesseract pillow + apt tesseract-ocr to run)")


def _render_png(text: str) -> bytes:
    """White-on-black PNG with ``text`` drawn large enough for OCR."""
    import io

    from PIL import Image, ImageDraw

    img = Image.new("L", (48 * len(text) + 40, 96), color=255)
    ImageDraw.Draw(img).text((20, 20), text, fill=0)
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    return buf.getvalue()


def _reference_engine(data: bytes) -> str:
    # the reference's engine shape: bytes -> grayscale PIL image ->
    # pytesseract.image_to_string (ocr.py:31-44)
    import io

    import pytesseract
    from PIL import Image

    return pytesseract.image_to_string(
        Image.open(io.BytesIO(data)).convert("L"))


@requires_tesseract
def test_ocr_text_with_real_engine(spark):
    from siren_spark.functions import ocr

    ocr.set_ocr_engine(_reference_engine)
    try:
        df = spark.createDataFrame(
            [("u1", bytearray(_render_png("HELLO"))),
             ("u2", bytearray(b"\x00not-an-image"))],   # error path -> ''
            "url string, html binary")
        rows = {r.url: r.text for r in ocr.ocr_text(df).collect()}
    finally:
        ocr.set_ocr_engine(None)
    assert "HELLO" in rows["u1"].upper()
    assert rows["u2"] == ""          # ocr.py:45-49: any error -> ''


@requires_tesseract
def test_ocr_page_chunks_with_real_engine(spark):
    from pyspark.sql import Row

    from siren_spark.functions import ocr

    ocr.set_ocr_engine(_reference_engine)
    try:
        df = spark.createDataFrame([
            Row(page_key="p1", chunks=[
                Row(url="c1", data=bytearray(_render_png("CRISIS"))),
                Row(url="c2", data=bytearray(b"broken")),
            ]),
            Row(page_key="p2", chunks=[
                Row(url="c3", data=bytearray(b"also-broken")),
            ]),
        ])
        out = {r.page_key: dict(r.matches)
               for r in ocr.ocr_page_chunks(df).collect()}
    finally:
        ocr.set_ocr_engine(None)
    # p1: only the readable chunk survives (ocr.py:88-91 non-empty only)
    assert set(out["p1"]) == {"c1"} and "CRISIS" in out["p1"]["c1"].upper()
    # p2: no matches -> EMPTY map, page kept (PageResult(matches={}))
    assert out["p2"] == {}


def test_ocr_contract_stub_matches_error_path(spark):
    """Runs everywhere: with NO engine installed the operators yield ''
    / empty matches — the same observable as the real engine's error
    path above, so the stub and the integration test pin one contract."""
    from siren_spark.functions import ocr

    assert ocr._ocr_engine is None     # default: no engine
    df = spark.createDataFrame(
        [("u1", bytearray(b"anything"))], "url string, html binary")
    assert [r.text for r in ocr.ocr_text(df).collect()] == [""]


def test_ocr_stub_and_plugged_engine(spark):
    df = spark.createDataFrame([("i", b"\x89PNG1234")], "url string, html binary")
    assert ocr_text(df).collect()[0].text == ""   # no engine -> '' (ocr.py:45-49)
    set_ocr_engine(lambda b: f"ocr:{len(b)}")
    try:
        assert ocr_text(df).collect()[0].text == "ocr:8"  # len(b"\x89PNG1234")
        set_ocr_engine(lambda b: 1 / 0)           # engine error -> '' too
        assert ocr_text(df).collect()[0].text == ""
    finally:
        set_ocr_engine(None)


def test_ocr_page_chunks_pipeline(spark):
    """J5/A6 composed pipeline vs a direct per-page dict oracle
    (ocr.py:74-110): explode chunks -> OCR -> per-page url->text map;
    empty OCR results excluded; pages with no matches keep {}."""
    from siren_spark.functions import ocr

    def fake_ocr(data: bytes) -> str:
        s = data.decode()
        return f"text:{s}" if "hit" in s else ""

    pages = [
        ("p1", [("c1", b"hit-a"), ("c2", b"miss"), ("c3", b"hit-b")]),
        ("p2", [("c4", b"miss"), ("c5", b"miss")]),
        ("p3", []),
    ]
    # the reference oracle: dict comprehension mirroring Page.search
    expected = {
        key: {u: fake_ocr(d) for (u, d) in chunks if fake_ocr(d)}
        for key, chunks in pages
    }

    rows = [(k, [{"url": u, "data": d} for (u, d) in chunks])
            for k, chunks in pages]
    df = spark.createDataFrame(
        rows, "page_key string, chunks array<struct<url:string,data:binary>>")
    ocr.set_ocr_engine(fake_ocr)
    try:
        got = {r.page_key: dict(r.matches)
               for r in ocr.ocr_page_chunks(df).collect()}
    finally:
        ocr.set_ocr_engine(None)
    assert got == expected
    assert got["p3"] == {}
