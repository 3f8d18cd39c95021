"""Measured bucketed-bloom round time against the broadcast bloom.

The bucketed Bloom filter is the 10^10-URL configuration (the seen filter
lives as a distributed (bucket, bitmap) checkpoint table — no driver or
single-executor copy). The crawl picks it once the total bitmap exceeds
operators/seen.py BLOOM_BROADCAST_MAX_BYTES (64 MiB); this tool forces
each mode by setting that constant, at the bench's 8 MiB filter. Its
bitmap staging runs in the fetch+extract overlap window and the
prestaged next-round annotate reads the staged (pre-commit) table, so
rounds pipeline as in broadcast mode.

This tool records the round-time evidence on the real bench web at one
core level: the same crawl with the bucketed Bloom filter and with the
broadcast-bloom reference, printing per-round wall times and steady
throughput for both.

Usage: python tools/spot_bucketed.py [cores]      # default 8
       (assumes the bench web: python bench.py --phase gen)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

BENCH_DATA = os.environ.get("SIREN_BENCH_DATA", "/tmp/siren_bench_web")


def _phase(master_cores: str, mode: str) -> None:
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from siren_spark.crawl import CrawlConfig, run_crawl
    from siren_spark.operators import seen
    from siren_spark.session import get_spark

    # bucketed once the total bitmap exceeds this: 0 forces bucketed,
    # an unreachable bound forces broadcast
    seen.BLOOM_BROADCAST_MAX_BYTES = 0 if mode == "bucketed" else 1 << 62

    spark = get_spark(
        f"local[{master_cores}]", app_name="spot_bucketed",
        shuffle_partitions=max(int(master_cores) * 2, 16),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(3 * 1024 * 1024),
        },
    )
    pages = spark.read.parquet(f"{BENCH_DATA}/pages")
    seeds = spark.read.parquet(f"{BENCH_DATA}/seeds")
    cfg = CrawlConfig(
        budget_per_host=1_000_000_000,
        salt_buckets=max(int(master_cores), 8),
        use_bloom=True, bloom_bits=1 << 22, bloom_buckets=16,
    )
    ckpt = tempfile.mkdtemp(prefix="siren_spotb_ckpt_")
    try:
        from siren_spark.functions.udfs import canonicalize_udf
        spark.range(0, int(master_cores) * 4, 1, int(master_cores) * 4) \
            .select(canonicalize_udf(F.concat(F.lit("https://w.example/"),
                                              F.col("id").cast("string")))) \
            .write.format("noop").mode("overwrite").save()
        pages.select(F.length("html")).write.format("noop") \
            .mode("overwrite").save()
        t0 = time.time()
        res = run_crawl(spark, pages, seeds, cfg, ckpt)
        dt = time.time() - t0
        ss_sec = sum(res.round_secs[1:]) if res.round_secs else 0.0
        ss_urls = sum(res.round_urls[1:]) if res.round_urls else 0
        print(json.dumps({
            "mode": mode, "cores": int(master_cores),
            "sec": round(dt, 2),
            "steady_sec": round(ss_sec, 2),
            "steady_urls": int(ss_urls),
            "steady_urls_per_sec": (round(ss_urls / ss_sec, 1)
                                    if ss_sec else None),
            "round_secs": [round(s, 2) for s in (res.round_secs or [])],
            "rounds": res.rounds,
        }))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--phase":
        _phase(sys.argv[2], sys.argv[3])
        return
    cores = sys.argv[1] if len(sys.argv) > 1 else "8"
    out = {}
    for mode in ("bucketed", "broadcast"):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--phase", cores,
             mode],
            capture_output=True, text=True, timeout=3000)
        if proc.returncode != 0:
            raise RuntimeError(f"{mode} failed:\n{proc.stderr[-3000:]}")
        r = json.loads(proc.stdout.strip().splitlines()[-1])
        out[mode] = r
        print(json.dumps(r), flush=True)
    summary = {
        "kind": "spot_bucketed_round_time",
        "cores": int(cores),
        "steady_urls_per_sec": {m: out[m]["steady_urls_per_sec"]
                                for m in out},
        "mean_steady_round_sec": {
            m: round(sum(out[m]["round_secs"][1:])
                     / max(len(out[m]["round_secs"]) - 1, 1), 2)
            for m in out},
    }
    line = json.dumps(summary)
    print(line)
    dst = os.environ.get("SIREN_SPOTB_OUT")
    if dst:
        with open(dst, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
