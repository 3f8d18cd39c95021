"""OCR of image-bytes columns (K8, J5/A6; reference ocr.py:27-110).

Images are opaque ``binary`` columns, the same shape as ``pages.html``
(the reference fetches page-chunk JPEGs as bytes, ocr.py:27-39). The
engine is pluggable (tesseract is not a dependency): with none
installed every image reads as '' — exactly the reference's error path
(ocr.py:45-49). Install a real one with ``set_ocr_engine``.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ocr_engine: Callable[[bytes], str] | None = None


def set_ocr_engine(fn: Callable[[bytes], str] | None) -> None:
    """Install a real OCR engine (reference: pytesseract.image_to_string
    over a grayscaled PIL image, ocr.py:31-44); ``None`` removes it."""
    global _ocr_engine
    _ocr_engine = fn


def _ocr(col: Column) -> Column:
    """Arrow-batched OCR of a binary column with the engine installed
    when the plan is built: its text, or '' when there is no engine or it
    fails (ocr.py:45-49)."""
    engine = _ocr_engine

    def read(data) -> str:
        try:
            return engine(bytes(data))   # no engine: TypeError -> ''
        except Exception:
            return ""

    @F.pandas_udf("string")
    def run(data: pd.Series) -> pd.Series:
        return pd.Series([read(b) for b in data])

    return run(col)


def ocr_text(df: DataFrame, *, payload_col: str = "html",
             url_col: str = "url") -> DataFrame:
    """K8 (ocr.py:27-56): image bytes -> ``(url string, text string)``."""
    return df.select(F.col(url_col).alias("url"),
                     _ocr(F.col(payload_col)).alias("text"))


def ocr_page_chunks(df: DataFrame, key_cols: tuple[str, ...] = ("page_key",),
                    chunks_col: str = "chunks") -> DataFrame:
    """J5/A6 composed (ocr.py:74-110): page -> level-2 chunks -> OCR ->
    per-page map of chunk_url -> text.

    Input: one row per page, ``chunks_col`` an
    array<struct<url:string, ..., data:binary>> (the reference's
    PageLevel.chunks with fetched bytes). Output: one row per page with
    ``matches: map<string,string>`` containing only chunks whose OCR
    produced text (ocr.py:88-91 keeps non-empty only); pages with no
    matches keep an EMPTY map, like PageResult(matches={}) — they are
    not dropped (ocr.py:92).

    Plan shape: explode -> Arrow-batched OCR UDF -> map_from_entries
    over a sorted collect_list grouped back by page key. The only
    shuffle carries (page_key, chunk_url, text) — never image bytes.
    """
    key_list = list(key_cols)
    ex = df.select(*key_list, F.explode(F.col(chunks_col)).alias("__c"))
    ocd = ex.select(*key_list,
                    F.col("__c.url").alias("__curl"),
                    _ocr(F.col("__c.data")).alias("__txt"))
    matched = (ocd.filter(F.col("__txt") != "")
               .groupBy(*key_list)
               .agg(F.map_from_entries(F.sort_array(F.collect_list(
                   F.struct(F.col("__curl"), F.col("__txt")))))
                   .alias("matches")))
    base = df.select(*key_list)
    return (base.join(matched, key_list, "left")
            .withColumn("matches",
                        F.coalesce(F.col("matches"),
                                   F.create_map().cast(
                                       "map<string,string>"))))


__all__ = ["ocr_text", "ocr_page_chunks", "set_ocr_engine"]
