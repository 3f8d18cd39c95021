"""Efficiency-vs-round-volume curve: the Amdahl claims, measured.

BASELINE.md's 100-TB extrapolation rests on two amortization claims:

1. the ~1.3-1.9 s/round fixed tail (job scheduling, commit, barrier
   latencies) is a CONSTANT, so its share of a round — and the 2->8
   efficiency it costs — shrinks as round volume grows;
2. the binding-budget exact-selection barrier is O(eligible keys) and
   payload-independent, so a 10^10-frontier round (millions of pages
   of fully-parallel fetch+extract against the same seconds-scale
   barrier) pays a vanishing share for it.

Both predict the same measurable signature: 2->8 steady efficiency is
MONOTONE-INCREASING in round volume. This tool measures that curve
directly: the same deterministic bench web generated at 0.5x / 1x / 2x
volume (n_index 4000/8000/16000; domain count fixed, so per-domain
volume scales with the total — "same shape, more volume"), crawled at
local[2] and local[8] through the exact bench path (bucketed pages
store, fetch_join='bucketed', same prewarm), in BOTH modes:

- throughput: budget_per_host=1e9, no robots (the bench.py plan);
- binding: budget_per_host scaled proportionally with volume
  (50k/100k/200k — constant over-budget share, the volume-invariant
  operating shape) + the RFC 9309 robots table over every domain, so
  the exact-selection barrier and the gate UDF are in the plan.

Per (volume, mode): one interleaved 2c/8c pair (SIREN_VOL_TRIES pairs),
per-attempt steal recorded. Estimators per pair: steady (rounds[1:])
and fullvol (rounds carrying >= 50% of the max round's urls — excludes
the binding drain tail, whose 5x-smaller rounds are a different point
ON this same curve, not noise in it).

Usage: python tools/spot_volume.py            # full curve, ~60-80 min
       SIREN_VOL_INDEXES=8000,16000 SIREN_VOL_MODES=binding \
           python tools/spot_volume.py        # subset
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_DATA = os.environ.get("SIREN_BENCH_DATA", "/tmp/siren_bench_web")
BASE_INDEX = 8000
LINKS = int(os.environ.get("SIREN_BENCH_LINKS", "240"))
WAVES = int(os.environ.get("SIREN_BENCH_WAVES", "4"))
BUCKETS = int(os.environ.get("SIREN_BENCH_FETCH_BUCKETS", "32"))
BASE_BUDGET = int(os.environ.get("SIREN_VOL_BASE_BUDGET", "100000"))


def _phase_crawl(cores: str, mode: str) -> None:
    sys.path.insert(0, REPO)
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    import bench
    from siren_spark.crawl import CrawlConfig, run_crawl
    from siren_spark.session import get_spark
    from siren_spark.sources.pages import BucketedParquetPageStore

    data = os.environ["SIREN_VOL_DATA"]
    n_index = int(os.environ["SIREN_VOL_INDEX"])
    budget = (int(os.environ["SIREN_VOL_BUDGET"])
              if mode == "binding" else 1_000_000_000)

    spark = get_spark(
        f"local[{cores}]", app_name=f"spot_vol_{mode}",
        shuffle_partitions=max(int(cores) * 2, 16),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(3 * 1024 * 1024),
        },
    )
    pages = BucketedParquetPageStore(
        "bench_pages_bucketed", buckets=BUCKETS,
        path=f"{data}/pages_bucketed").read(spark)
    seeds = spark.read.parquet(f"{data}/seeds")
    robots = None
    if mode == "binding":
        import spot_politeness
        robots = spark.createDataFrame(spot_politeness._robots_rows(),
                                       "domain string, rules string")
    cfg = CrawlConfig(
        budget_per_host=budget,
        salt_buckets=max(int(cores), 8),
        use_bloom=True, bloom_bits=1 << 22, bloom_buckets=16,
        fetch_join="bucketed",
        max_rounds=40,
    )
    ckpt = tempfile.mkdtemp(prefix="siren_vol_ckpt_")
    try:
        # identical prewarm to bench.py --phase crawl: python workers,
        # corpus scan first-touch, and the end-to-end engine path
        # (including the politeness machinery when binding)
        from siren_spark.functions.udfs import canonicalize_udf
        spark.range(0, int(cores) * 4, 1, int(cores) * 4) \
            .select(canonicalize_udf(F.concat(F.lit("https://w.example/"),
                                              F.col("id").cast("string")))) \
            .write.format("noop").mode("overwrite").save()
        pages.select(F.length("html")).write.format("noop") \
            .mode("overwrite").save()
        from siren_spark.testing.frames import pages_df, seeds_df
        from siren_spark.testing.sitegen import (
            WINDOW_END, WINDOW_START, SiteSpec, build_site,
        )
        wsite = build_site(SiteSpec(mirror_seed_range=(10, 12)))
        wcfg = CrawlConfig(
            budget_per_host=(5 if mode == "binding" else 1_000_000_000),
            window_start=WINDOW_START, window_end=WINDOW_END,
            use_bloom=True, bloom_bits=1 << 16, bloom_buckets=4,
            max_rounds=2)
        wck = tempfile.mkdtemp(prefix="siren_vol_warm_")
        try:
            run_crawl(spark, pages_df(spark, wsite.pages),
                      seeds_df(spark, wsite.seeds), wcfg, wck,
                      robots=robots)
        finally:
            shutil.rmtree(wck, ignore_errors=True)
        jiff0 = bench._cpu_jiffies()
        t0 = time.time()
        res = run_crawl(spark, pages, seeds, cfg, ckpt, robots=robots)
        dt = time.time() - t0
        cpu_mix = bench._cpu_mix(jiff0, bench._cpu_jiffies())
        agg = {r["metric"]: int(r["n"]) for r in
               (res.counters.groupBy("metric").agg(F.sum("n").alias("n"))
                .collect())}
        urls = agg.get("fetched", 0) + agg.get("records", 0)
        ss_sec = sum(res.round_secs[1:]) if res.round_secs else 0.0
        ss_urls = sum(res.round_urls[1:]) if res.round_urls else 0
        print(json.dumps({
            "mode": mode, "cores": int(cores), "n_index": n_index,
            "budget_per_host": budget,
            "sec": round(dt, 2), "urls": urls,
            "urls_per_sec": round(urls / dt, 1),
            "steady_urls_per_sec": (round(ss_urls / ss_sec, 1)
                                    if ss_sec else None),
            "round_secs": [round(s, 2) for s in (res.round_secs or [])],
            "round_urls": list(res.round_urls or []),
            "rounds": res.rounds,
            "deferred_total": agg.get("deferred", 0),
            "robots_blocked_total": agg.get("robots_blocked", 0),
            "cpu_mix": cpu_mix,
        }))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _ensure_web(n_index: int) -> str:
    """Generate (marker-gated) the bench web at n_index volume via
    bench.py --phase gen, so every volume point shares the generator,
    codec, layout, and bucketize step with the recorded bench."""
    data = (BASE_DATA if n_index == BASE_INDEX
            else f"{BASE_DATA}_vol{n_index}")
    want = {"n_index": n_index, "links": LINKS, "waves": WAVES,
            "phantom": True, "codec": "zstd", "layout": "interleaved",
            "dialects": "mirror+toi-q4", "fetch": f"bucketed{BUCKETS}"}
    marker = os.path.join(data, "marker.json")
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f).get("params") == want:
                return data
    env = {**os.environ, "SIREN_BENCH_DATA": data,
           "SIREN_BENCH_INDEX": str(n_index)}
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--phase", "gen"],
        capture_output=True, text=True, timeout=3600, env=env)
    if r.returncode != 0:
        raise RuntimeError(f"gen n_index={n_index} failed:\n"
                           f"{r.stderr[-3000:]}")
    gen = json.loads(r.stdout.strip().splitlines()[-1])
    with open(marker, "w") as f:
        json.dump({"params": want, "result": gen}, f)
    print(json.dumps({"gen": gen, "sec": round(time.time() - t0, 1)}),
          flush=True)
    return data


def _fullvol_rate(a: dict) -> float | None:
    """Per-attempt rate over full-volume rounds only (>= 50% of the max
    round's urls, excluding round 0) — the binding drain tail's
    5x-smaller rounds are their own point on the volume curve and would
    otherwise contaminate this one."""
    urls, secs = a.get("round_urls") or [], a.get("round_secs") or []
    if len(urls) < 2 or len(secs) < len(urls):
        return None
    cut = max(urls) * 0.5
    idx = [i for i in range(1, len(urls)) if urls[i] >= cut]
    tot_s = sum(secs[i] for i in idx)
    return sum(urls[i] for i in idx) / tot_s if tot_s else None


def _mean_fullvol_urls(a: dict | None) -> int | None:
    urls = (a or {}).get("round_urls") or []
    full = [u for u in urls if u >= 0.5 * max(urls)] if urls else []
    return round(sum(full) / len(full)) if full else None


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--phase":
        _phase_crawl(sys.argv[2], sys.argv[3])
        return

    indexes = [int(x) for x in os.environ.get(
        "SIREN_VOL_INDEXES", "4000,8000,16000").split(",")]
    modes = os.environ.get("SIREN_VOL_MODES",
                           "throughput,binding").split(",")
    tries = int(os.environ.get("SIREN_VOL_TRIES", "1"))

    curve: list[dict] = []
    for n_index in indexes:
        data = _ensure_web(n_index)
        budget = int(BASE_BUDGET * n_index / BASE_INDEX)
        for mode in modes:
            attempts: dict[int, list[dict]] = {2: [], 8: []}
            env = {**os.environ, "SIREN_VOL_DATA": data,
                   "SIREN_VOL_INDEX": str(n_index),
                   "SIREN_VOL_BUDGET": str(budget)}
            for _i in range(tries):
                for n in (2, 8):
                    r = subprocess.run(
                        [sys.executable, os.path.abspath(__file__),
                         "--phase", str(n), mode],
                        capture_output=True, text=True, timeout=3600,
                        env=env)
                    if r.returncode != 0:
                        raise RuntimeError(
                            f"n_index={n_index} mode={mode} cores={n} "
                            f"failed:\n{r.stderr[-3000:]}")
                    a = json.loads(r.stdout.strip().splitlines()[-1])
                    attempts[n].append(a)
                    print(json.dumps(a), flush=True)

            def best(n: int, key) -> float | None:
                vals = [key(a) if callable(key) else a.get(key)
                        for a in attempts[n]]
                vals = [v for v in vals if v]
                return max(vals) if vals else None

            s2, s8 = (best(2, "steady_urls_per_sec"),
                      best(8, "steady_urls_per_sec"))
            f2, f8 = best(2, _fullvol_rate), best(8, _fullvol_rate)
            point = {
                "n_index": n_index, "mode": mode,
                "volume_rel": round(n_index / BASE_INDEX, 2),
                "budget_per_host": (budget if mode == "binding"
                                    else None),
                "steady_urls_per_sec": {"2": s2, "8": s8},
                "fullvol_urls_per_sec": {
                    "2": round(f2, 1) if f2 else None,
                    "8": round(f8, 1) if f8 else None},
                "eff_2_to_8_steady": (round(s8 / s2 / 4.0, 3)
                                      if s2 and s8 else None),
                "eff_2_to_8_fullvol": (round(f8 / f2 / 4.0, 3)
                                       if f2 and f8 else None),
                "attempts_steal_of_cores_pct": {
                    str(n): [round((a.get("cpu_mix") or {}).get(
                        "steal_pct", 0.0) * 32.0 / n, 1)
                        for a in attempts[n]] for n in attempts},
                "mean_fullvol_round_urls": _mean_fullvol_urls(
                    attempts[8][0] if attempts[8] else None),
            }
            curve.append(point)
            print(json.dumps(point), flush=True)

    summary = {"kind": "spot_volume_curve", "tries": tries,
               "links": LINKS, "waves": WAVES, "curve": curve,
               "note": ("2->8 efficiency vs round volume, same web "
                        "shape at 0.5x/1x/2x; binding budget scaled "
                        "with volume (constant over-budget share); "
                        "fullvol estimator excludes drain-tail rounds "
                        "(<50% of max round urls)")}
    line = json.dumps(summary)
    print(line)
    out = os.environ.get("SIREN_VOL_OUT")
    if out:
        with open(out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
