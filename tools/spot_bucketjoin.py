"""Measured fetch-join strategy comparison at bench volume.

Three strategies over the same bench web at one core level:

- broadcast (default bench path): scheduled keys broadcast into the
  pages scan — per-round serial broadcast build (~1.5-2.6 s observed)
  that grows with the scheduled set;
- bucketed: pages bucket-written on url_canon once (the Iceberg
  bucket(N, url_canon) ingest shape), fetch join planned as a
  shuffled-hash join — only the scheduled side shuffles, no broadcast
  build, no corpus exchange/sort;
- plain SMJ reference (broadcast_fetch_max=0 over the unbucketed
  store): the corpus shuffles every round — the anti-pattern the
  bucketed store exists to avoid.

Usage: python tools/spot_bucketjoin.py [cores] [strategies...]
       (default: 8 broadcast bucketed; assumes the bench web —
        run `python bench.py --phase gen` first)

Prints one JSON line per run plus the bucketize time; steal%
(hypervisor contamination) is recorded per window.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

BENCH_DATA = os.environ.get("SIREN_BENCH_DATA", "/tmp/siren_bench_web")
BUCKETS = int(os.environ.get("SIREN_SPOT_BUCKETS", "32"))


def _steal_window():
    try:
        with open("/proc/stat") as f:
            p = f.readline().split()
        return [int(x) for x in p[1:9]]
    except OSError:
        return None


def _steal_pct(a, b):
    if not a or not b:
        return None
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    return round(100.0 * d[7] / tot, 2)


def _phase_bucketize() -> None:
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    from siren_spark.session import get_spark
    from siren_spark.sources.pages import BucketedParquetPageStore

    spark = get_spark("local[32]", app_name="spot_bucketize",
                      shuffle_partitions=64)
    pages = spark.read.parquet(f"{BENCH_DATA}/pages")
    t0 = time.time()
    store = BucketedParquetPageStore(
        "bench_pages_bucketed", buckets=BUCKETS,
        path=f"{BENCH_DATA}/pages_bucketed")
    store.write(pages)
    print(json.dumps({"bucketize_sec": round(time.time() - t0, 2),
                      "buckets": BUCKETS}))


def _phase_crawl(master_cores: str, strategy: str) -> None:
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from siren_spark.crawl import CrawlConfig, run_crawl
    from siren_spark.session import get_spark
    from siren_spark.sources.pages import BucketedParquetPageStore

    spark = get_spark(
        f"local[{master_cores}]", app_name=f"spot_bj_{strategy}",
        shuffle_partitions=max(int(master_cores) * 2, 16),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(3 * 1024 * 1024),
        },
    )
    if strategy == "bucketed":
        store = BucketedParquetPageStore(
            "bench_pages_bucketed", buckets=BUCKETS,
            path=f"{BENCH_DATA}/pages_bucketed")
        pages = store.read(spark)
        cfg_kw = {"fetch_join": "bucketed"}
    elif strategy == "smj":
        pages = spark.read.parquet(f"{BENCH_DATA}/pages")
        cfg_kw = {"fetch_join": "auto", "broadcast_fetch_max": 0}
    else:
        pages = spark.read.parquet(f"{BENCH_DATA}/pages")
        cfg_kw = {"fetch_join": "broadcast"}
    seeds = spark.read.parquet(f"{BENCH_DATA}/seeds")
    cfg = CrawlConfig(
        budget_per_host=1_000_000_000,
        salt_buckets=max(int(master_cores), 8),
        use_bloom=True, bloom_bits=1 << 22, bloom_buckets=16,
        **cfg_kw,
    )
    ckpt = tempfile.mkdtemp(prefix="siren_spotbj_ckpt_")
    try:
        from siren_spark.functions.udfs import canonicalize_udf
        spark.range(0, int(master_cores) * 4, 1, int(master_cores) * 4) \
            .select(canonicalize_udf(F.concat(F.lit("https://w.example/"),
                                              F.col("id").cast("string")))) \
            .write.format("noop").mode("overwrite").save()
        pages.select(F.length("html")).write.format("noop") \
            .mode("overwrite").save()
        j0 = _steal_window()
        t0 = time.time()
        res = run_crawl(spark, pages, seeds, cfg, ckpt)
        dt = time.time() - t0
        fetched = (res.counters.filter(F.col("metric") == "fetched")
                   .agg(F.sum("n")).collect()[0][0]) or 0
        extracted = res.results.count()
        ss_sec = sum(res.round_secs[1:]) if res.round_secs else 0.0
        ss_urls = sum(res.round_urls[1:]) if res.round_urls else 0
        print(json.dumps({
            "strategy": strategy, "cores": int(master_cores),
            "sec": round(dt, 2),
            "urls": int(fetched) + int(extracted),
            "urls_per_sec": round((int(fetched) + int(extracted)) / dt, 1),
            "steady_urls_per_sec": (round(ss_urls / ss_sec, 1)
                                    if ss_sec else None),
            "round_secs": [round(s, 2) for s in (res.round_secs or [])],
            "steal_pct": _steal_pct(j0, _steal_window()),
        }))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--phase":
        if sys.argv[2] == "bucketize":
            _phase_bucketize()
        else:
            _phase_crawl(sys.argv[3], sys.argv[2])
        return
    cores = sys.argv[1] if len(sys.argv) > 1 else "8"
    strategies = sys.argv[2:] or ["broadcast", "bucketed"]
    me = os.path.abspath(__file__)
    if "bucketed" in strategies and not os.path.exists(
            f"{BENCH_DATA}/pages_bucketed"):
        r = subprocess.run([sys.executable, me, "--phase", "bucketize"],
                           capture_output=True, text=True, timeout=1200)
        if r.returncode != 0:
            raise RuntimeError(r.stderr[-2000:])
        print(r.stdout.strip().splitlines()[-1], flush=True)
    out = []
    for s in strategies:
        r = subprocess.run([sys.executable, me, "--phase", s, cores],
                           capture_output=True, text=True, timeout=1200)
        if r.returncode != 0:
            raise RuntimeError(f"{s}: {r.stderr[-2000:]}")
        line = r.stdout.strip().splitlines()[-1]
        print(line, flush=True)
        out.append(json.loads(line))
    if len(out) > 1:
        base = out[0]
        print(json.dumps({
            "summary": {o["strategy"]:
                        {"steady_urls_per_sec": o["steady_urls_per_sec"],
                         "vs_" + base["strategy"]: (
                             round(o["steady_urls_per_sec"]
                                   / base["steady_urls_per_sec"], 3)
                             if base["steady_urls_per_sec"] else None)}
                        for o in out}}))


if __name__ == "__main__":
    main()
