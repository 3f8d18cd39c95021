"""Arrow-vectorized UDF layer over the pure kernels.

Per the input_hint ("vectorized pandas/Arrow UDFs, no per-row Python"),
every Python crossing here is Arrow-batched:

- ``canonicalize_udf`` / ``domain_udf``: pandas Series -> Series maps of
  the pure functions in siren_spark.urls.
- ``extract_pages``: ONE ``mapInPandas`` pass over fetched page batches
  that runs the per-site kernel dispatch and emits a union frame of
  discovered links + extracted records (split downstream by ``kind``),
  so each page's HTML is deserialized and parsed exactly once.

Where the Python time goes: the fixed cost is per TASK, not per row
or per byte. Under Spark's own worker daemon each Python task pays
~0.25 s of worker CPU before its first row (PySpark's per-task
``importlib.invalidate_caches()`` makes the zipimporters of
``pyspark.zip`` and the other worker-path archives re-read their
directories); local sessions from ``session.get_spark`` start workers
from ``siren_spark.worker_daemon``, which keeps those archives off the
path, and a task then costs ~4 ms. On a 4-vCPU host a drop-only
``mapInArrow`` at 4 / 8 / 32 tasks costs 0.08 / 0.10 / 0.12 s of worker
CPU that way (1.1 / 2.1 / 7.8 s under Spark's daemon) but still
1.1 / 1.1 / 1.6 s of wall time, and 262 MB of html through it adds
<= 0.3 s. So a crawl's Python stages run as at most one task per core
(``coalesce_to_cores``): the scheduling and shuffle-read cost of each
extra task remains, and cluster deploys still pay the archive re-reads.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from siren_spark.kernels import parse_page
from siren_spark.urls import canonicalize_url, registrable_domain


@F.pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_url, na_action="ignore")


@F.pandas_udf(StringType())
def domain_udf(urls: pd.Series) -> pd.Series:
    return urls.map(registrable_domain, na_action="ignore")


# Union output of link discovery + record extraction. kind: 'link'|'record'.
# url_canon/domain are populated for link rows; page/error/record rows
# additionally carry ``domain`` (registrable domain of the row's own
# url — registrable_domain lowercases/normalizes the host itself, so
# this equals the frontier's canonical-derived domain without paying a
# canonicalize per page). The kernel pass already holds each URL as a
# Python string, so computing these here is marginal work — while
# deriving them downstream would schedule a second pandas-UDF job over
# the staged extraction output every round (measured ~6 s/round at
# bench scale), and per-domain counters can read this table directly
# instead of equi-joining every extraction row back to the annotated
# frontier (a ~1M-row/round shuffle in the derived-writes window).
EXTRACT_SCHEMA = StructType([
    StructField("kind", StringType()),
    StructField("url", StringType()),
    StructField("url_canon", StringType()),    # link rows: canonical key
    StructField("domain", StringType()),       # link rows: registrable domain
    StructField("meta", MapType(StringType(), StringType())),
    StructField("via", StringType()),          # parent page url (lineage)
    StructField("source", StringType()),
    StructField("title", StringType()),
    StructField("author", StringType()),
    StructField("location", StringType()),
    StructField("published", TimestampType()),
    StructField("text", StringType()),
    StructField("extra", MapType(StringType(), StringType())),
])


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in EXTRACT_SCHEMA.fields]
    for pdf in batches:
        out: dict[str, list] = {c: [] for c in cols}

        def emit(kind, url, meta, via, source=None, title=None, author=None,
                 location=None, published=None, text=None, extra=None,
                 url_canon=None, domain=None):
            out["kind"].append(kind)
            out["url"].append(url)
            out["url_canon"].append(url_canon)
            out["domain"].append(domain)
            out["meta"].append(meta)
            out["via"].append(via)
            out["source"].append(source)
            out["title"].append(title)
            out["author"].append(author)
            out["location"].append(location)
            out["published"].append(published)
            out["text"].append(text)
            out["extra"].append(extra)

        for url, html, meta in zip(pdf["url"], pdf["html"], pdf["meta"]):
            payload = bytes(html).decode("utf-8", errors="replace") if html is not None else ""
            res = parse_page(url, payload, dict(meta) if meta is not None else {})
            page_dom = registrable_domain(url)
            # one marker row per fetched page: lets callers derive
            # hit/miss/error counts from this output alone (no second
            # pass over the fetch join)
            emit("page", url, None, url, domain=page_dom)
            if res.error is not None:
                emit("error", url, None, url, text=res.error,
                     domain=page_dom)
            for link in res.links:
                canon = canonicalize_url(link.url)
                emit("link", link.url, link.meta, url,
                     url_canon=canon, domain=registrable_domain(canon))
            for rec in res.records:
                rd = (page_dom if rec["url"] == url
                      else registrable_domain(rec["url"]))
                emit("record", rec["url"], None, url, rec["source"],
                     rec["title"], rec["author"], rec["location"],
                     rec["published"], rec["text"],
                     {k: str(v) for k, v in (rec["extra"] or {}).items()},
                     domain=rd)
        yield pd.DataFrame(out, columns=cols)


def coalesce_to_cores(df: DataFrame) -> DataFrame:
    """``df`` in at most ``defaultParallelism`` partitions (one per
    core), so a Python stage over it pays the per-task scheduling and
    worker set-up once per core instead of once per input partition.
    A coalesce
    never raises the partition count and adds no exchange: on a
    cluster where partitions ~ cores it is a no-op."""
    return df.coalesce(df.sparkSession.sparkContext.defaultParallelism)


def extract_pages(fetched: DataFrame) -> DataFrame:
    """Run kernel dispatch over fetched pages, at most one task per core.

    ``fetched`` must have columns (url, html, meta). Returns the
    EXTRACT_SCHEMA union frame; callers split on ``kind``.
    """
    return coalesce_to_cores(fetched.select("url", "html", "meta")).mapInPandas(
        _extract_batches, EXTRACT_SCHEMA
    )


__all__ = ["canonicalize_udf", "coalesce_to_cores", "domain_udf",
           "extract_pages", "EXTRACT_SCHEMA"]
