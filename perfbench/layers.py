"""Single-layer measurements on a fixed, seeded page sample (traced run).

- ``kernels.parse_page`` per page kind (index, article, toi), one process;
- ``urls.canonicalize_url`` / ``registrable_domain`` over the links the
  index sample yields;
- ``functions.udfs.extract_pages`` over the same sample on the session,
  written to a ``noop`` sink. ``udfs.crossing_share`` is the share of
  that Spark time not spent in the kernels:
  1 - kernel time / (extract time x slots).
"""

from __future__ import annotations

import statistics
import time

import pyarrow.parquet as pq

from perfbench.env import CORES

MIN_TIMED_S = 0.4
META = {"keyword": "crisis"}


def page_sample(seed_dir: str) -> dict[str, list[tuple[str, bytes]]]:
    """The seed's page sample (``inputs.SAMPLE`` pages per kind)."""
    t = pq.read_table(f"{seed_dir}/sample.parquet").to_pylist()
    out: dict[str, list[tuple[str, bytes]]] = {}
    for r in t:
        out.setdefault(r["kind"], []).append((r["url"], r["html"]))
    return out


def _rate(fn, items) -> float:
    """Items per second: repeat passes until MIN_TIMED_S, median pass."""
    times, spent = [], 0.0
    while spent < MIN_TIMED_S or len(times) < 3:
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        dt = time.perf_counter() - t0
        times.append(dt)
        spent += dt
    return len(items) / statistics.median(times)


def measure(spark, sample: dict[str, list[tuple[str, bytes]]]) -> dict[str, float]:
    from pyspark.sql import functions as F

    from siren_spark.functions.udfs import extract_pages
    from siren_spark.kernels import parse_page
    from siren_spark.urls import canonicalize_url, registrable_domain

    out: dict[str, float] = {}
    kernel_s = 0.0
    decoded = {k: [(u, h.decode("utf-8", errors="replace")) for u, h in v]
               for k, v in sample.items()}
    for kind, pages in decoded.items():
        rate = _rate(lambda p: parse_page(p[0], p[1], dict(META)), pages)
        out[f"kernels.{kind}_pages_per_s"] = rate
        kernel_s += len(pages) / rate
    links = [ln.url for u, h in decoded["index"]
             for ln in parse_page(u, h, dict(META)).links]
    canon = [canonicalize_url(u) for u in links]
    out["urls.canonicalize_per_s"] = _rate(canonicalize_url, links)
    out["urls.domain_per_s"] = _rate(registrable_domain, canon)

    rows = [(u, h, META) for v in sample.values() for u, h in v]
    df = spark.createDataFrame(
        rows, "url string, html binary, meta map<string,string>"
    ).repartition(CORES * 2).cache()
    df.count()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        extract_pages(df).select(F.col("kind")).write.format("noop") \
            .mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    df.unpersist()
    extract_s = statistics.median(times)
    out["udfs.extract_pages_per_s"] = len(rows) / extract_s
    out["udfs.crossing_share"] = 1.0 - kernel_s / (extract_s * CORES)
    return out
