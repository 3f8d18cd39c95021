"""Bucketed page store + shuffle-free fetch join (the 10^10-scale path).

At real frontier scale the per-round broadcast build is a driver-side
serial term that grows with the scheduled set, and the plain SMJ
fallback shuffles the corpus every round unless the table was
bucket-written at ingest. A pages table bucketed on url_canon
(Iceberg ``bucket(N, url_canon)`` in production — sources/pages.py
IcebergPageStore DDL; Spark-native ``bucketBy`` here) lets the fetch
join plan as a shuffled-hash join where ONLY the scheduled side moves:
no broadcast build, no corpus exchange, no corpus sort.

Reference scale anchor: SURVEY.md §2.1 (fetch scheduling), BASELINE.json
north_rule ("bloom/cuckoo URL-seen ... over Iceberg tables ... at
10^10-URL-frontier scale").
"""

import re

import pytest
from pyspark.sql import functions as F

from siren_spark.crawl import CrawlConfig, prepare_pages, run_crawl
from siren_spark.sources.pages import BucketedParquetPageStore
from siren_spark.testing.frames import pages_df, seeds_df
from siren_spark.testing.sitegen import (
    WINDOW_END, WINDOW_START, SiteSpec, build_site,
)

SPEC = SiteSpec(mirror_seed_range=(10, 14))
BUDGET = 10


@pytest.fixture(scope="module")
def site():
    return build_site(SPEC)


@pytest.fixture(scope="module")
def bucketed_pages(spark, site, tmp_path_factory):
    store = BucketedParquetPageStore(
        "pages_bucketed_test", buckets=4,
        path=str(tmp_path_factory.mktemp("bucketed") / "pages"))
    store.write(pages_df(spark, site.pages))
    yield store.read(spark)
    spark.sql("DROP TABLE IF EXISTS pages_bucketed_test")


def _cfg(**kw) -> CrawlConfig:
    return CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                       window_end=WINDOW_END, keywords=SPEC.keywords, **kw)


def _plan(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_fetch_join_moves_only_scheduled_side(
        spark, site, bucketed_pages):
    """The join must plan as a shuffled-hash join with exactly ONE
    exchange — the scheduled side hashing into the table's buckets.
    The pages scan reports its bucketing and reaches the join with no
    Exchange and no Sort (an SMJ would re-sort the corpus per round)."""
    pages_p = prepare_pages(bucketed_pages)
    sched = spark.createDataFrame(
        [(p["url"], p["url"], None) for p in site.pages[:5]],
        "url string, url_canon string, meta map<string,string>")
    joined = pages_p.join(sched.hint("shuffle_hash"), "url_canon", "inner")
    p = _plan(joined)
    assert "ShuffledHashJoin" in p, p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert re.search(r"Bucketed: true", p), p


def test_bucketed_crawl_equals_default_engine(spark, site, bucketed_pages,
                                              tmp_path):
    """fetch_join='bucketed' is a physical strategy only — the crawl's
    result set, seen set, and round count must be identical to the
    default (broadcast) engine on the same web."""
    base = run_crawl(spark, pages_df(spark, site.pages),
                     seeds_df(spark, site.seeds), _cfg(),
                     str(tmp_path / "ck_base"))
    buck = run_crawl(spark, bucketed_pages,
                     seeds_df(spark, site.seeds),
                     _cfg(fetch_join="bucketed"),
                     str(tmp_path / "ck_buck"))
    key = ["source", "url", "title", "published", "gen"]
    a = sorted(tuple(r[k] for k in key) for r in base.results.collect())
    b = sorted(tuple(r[k] for k in key) for r in buck.results.collect())
    assert a == b
    assert base.rounds == buck.rounds
    sa = {r.url_canon for r in base.seen.collect()}
    sb = {r.url_canon for r in buck.seen.collect()}
    assert sa == sb


def test_bucketed_store_reattaches_across_sessions(
        spark, site, tmp_path_factory):
    """Ingest and crawl are different processes: the default session
    catalog is in-memory, so the crawl session starts with NO entry for
    the ingest-time table. read() must re-register the table from the
    on-disk sidecar with the ORIGINAL bucket spec (a plain parquet read
    would silently drop the bucketing and downgrade the fetch join),
    and refuse a mismatched bucket count outright."""
    path = str(tmp_path_factory.mktemp("bucketedreattach") / "pages")
    store = BucketedParquetPageStore("pages_bucketed_reatt", buckets=4,
                                     path=path)
    try:
        store.write(pages_df(spark, site.pages))
        n = spark.table("pages_bucketed_reatt").count()
        # simulate the fresh session: drop the catalog entry, keep disk
        spark.sql("DROP TABLE pages_bucketed_reatt")
        df = store.read(spark)
        assert df.count() == n
        pages_p = prepare_pages(df)
        sched = spark.createDataFrame(
            [(p["url"], p["url"], None) for p in site.pages[:5]],
            "url string, url_canon string, meta map<string,string>")
        p = _plan(pages_p.join(sched.hint("shuffle_hash"),
                               "url_canon", "inner"))
        assert "ShuffledHashJoin" in p and "Bucketed: true" in p, p
        # wrong bucket count must fail loudly, never mis-register
        spark.sql("DROP TABLE pages_bucketed_reatt")
        bad = BucketedParquetPageStore("pages_bucketed_reatt", buckets=8,
                                       path=path)
        with pytest.raises(ValueError, match="bucket count mismatch"):
            bad.read(spark)
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_bucketed_reatt")


def test_bucketed_store_one_file_per_bucket(spark, site, tmp_path_factory):
    """The ingest pre-shuffle aligns write tasks with buckets so each
    bucket lands as one file — without it every write task emits its
    own file per bucket and the file count multiplies by parallelism
    (a small-files problem at 10^10 rows)."""
    import glob
    import os
    path = str(tmp_path_factory.mktemp("bucketed1f") / "pages")
    store = BucketedParquetPageStore("pages_bucketed_files", buckets=4,
                                     path=path)
    try:
        store.write(pages_df(spark, site.pages))
        files = [f for f in glob.glob(os.path.join(path, "*.parquet"))
                 if os.path.getsize(f) > 0]
        assert len(files) == 4, sorted(os.path.basename(f) for f in files)
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_bucketed_files")


# One crawl round in its own local[2] session (the shared test session
# runs local[4], and a SparkContext's core count is fixed at start).
_TASK_SHAPE_JOB = r"""
import glob, json, os, sys
from pyspark.sql import functions as F
from siren_spark.crawl import CrawlConfig, run_crawl
from siren_spark.operators.checkpoint import CheckpointStore
from siren_spark.operators.seen import build_bloom_partials
from siren_spark.session import get_spark
from siren_spark.sources.pages import BucketedParquetPageStore
from siren_spark.testing.frames import pages_df, seeds_df
from siren_spark.testing.sitegen import (
    WINDOW_END, WINDOW_START, SiteSpec, build_site)

out = sys.argv[1]
spark = get_spark("local[2]", shuffle_partitions=4, extra_conf={
    "spark.sql.warehouse.dir": os.path.join(out, "warehouse")})
spec = SiteSpec(mirror_seed_range=(10, 14))
site = build_site(spec)
store = BucketedParquetPageStore("pages_b16", buckets=16,
                                 path=os.path.join(out, "pages"))
store.write(pages_df(spark, site.pages))
cfg = CrawlConfig(budget_per_host=10, max_rounds=1,
                  window_start=WINDOW_START, window_end=WINDOW_END,
                  keywords=spec.keywords, fetch_join="bucketed")
ck = os.path.join(out, "ck")
run_crawl(spark, store.read(spark), seeds_df(spark, site.seeds), cfg, ck)
tables = CheckpointStore(ck).manifest(0)["tables"]
sched = (spark.read.parquet(tables["frontier_ann"])
         .filter(F.col("status") == "scheduled").select("url_canon"))
partials = build_bloom_partials(sched, "url_canon",
                                bits_per_bucket=1 << 12, buckets=16)
print(json.dumps({
    "cores": spark.sparkContext.defaultParallelism,
    "scheduled": sched.count(),
    "extracted_files": len(glob.glob(
        os.path.join(tables["extracted"], "part-*.parquet"))),
    "bloom_partitions": partials.rdd.getNumPartitions(),
    "bloom_buckets": sorted(r.bucket for r in partials.collect()),
}))
spark.stop()
"""


def test_python_stages_run_one_task_per_core(tmp_path):
    """Every Python task pays a fixed scheduling and set-up cost: wall
    time per extra task in every deploy, plus ~0.25 s of worker CPU
    where Spark's archives stay on the worker path (clusters,
    ``--py-files`` deploys). So a crawl round's Python stages run as at
    most one task per core even when the 16-bucket pages store offers
    16 partitions: the staged extraction (one file per extract task)
    has <= defaultParallelism part files, and the Bloom build runs
    min(buckets, defaultParallelism) tasks that still emit exactly one
    partial per bucket."""
    import json
    import os
    import subprocess
    import sys
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="2g",
               PYTHONPATH=os.pathsep.join(
                   [root] + [p for p in os.environ.get(
                       "PYTHONPATH", "").split(os.pathsep) if p]))
    proc = subprocess.run(
        [sys.executable, "-c", _TASK_SHAPE_JOB, str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["cores"] == 2, got
    assert got["scheduled"] > 0, got
    assert 1 <= got["extracted_files"] <= got["cores"], got
    assert got["bloom_partitions"] == min(16, got["cores"]), got
    # one partial per bucket the scheduled keys hash into, never two
    buckets = got["bloom_buckets"]
    assert buckets and len(buckets) == len(set(buckets)), got
