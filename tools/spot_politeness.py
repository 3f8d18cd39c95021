"""Spot scaling pair with a BINDING politeness budget + robots gate.

The main bench (bench.py) runs the crawl in throughput mode
(budget_per_host=1e9, no robots), so every bench round takes the
whole-frontier politeness fast path and skips the robots gate UDF —
two of the four annotate stages absent from the measured plan
(VERDICT r4 "what's wrong" #2). This tool records the complementary
evidence: the SAME bench web, crawled at local[2] and local[8] with

- budget_per_host=100_000 — the hot domain (site0.example, ~30% of a
  ~600k-URL steady round = ~180k eligible rows) exceeds the budget
  every steady round, so the split-union count -> broadcast hot-set ->
  salted two-phase window machinery (crawl.py politeness) actually
  runs, and deferred URLs re-annotate in later rounds (drain tail);
- a robots table covering every bench domain (reference rule shape,
  RFC 9309 longest-match semantics) with a prefix that blocks a small
  URL slice — the broadcast matcher UDF evaluates EVERY frontier row
  against its domain's rules, and blocked rows flow through the
  blocked-sinks-last dup ordering.

Protocol fields mirror bench.py's per-attempt record; attempts are
interleaved lo,hi[,lo,hi] (SIREN_SPOT_TRIES pairs, default 1). Output:
one JSON line per attempt plus a final summary line with the steady
2->8 efficiency, written to SIREN_SPOT_OUT if set.

Usage: python tools/spot_politeness.py            # assumes bench web
       (run `python bench.py --phase gen` first if absent)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

BENCH_DATA = os.environ.get("SIREN_BENCH_DATA", "/tmp/siren_bench_web")
BUDGET = int(os.environ.get("SIREN_SPOT_BUDGET", "100000"))
N_DOMAINS = 20                      # benchgen default


def _robots_rows() -> list[tuple[str, str]]:
    """One ruleset per bench domain (reference robots shape: UA groups,
    allow/disallow prefixes). /news/story-999 blocks story-999* —
    ~0.1% of articles, enough that blocked-status rows exist in every
    round without distorting the measured volume; the /img/ and query
    rules are never hit but make the matcher do real longest-match
    work per URL."""
    rules = ("User-agent: *\n"
             "Disallow: /img/\n"
             "Disallow: /news/story-999\n"
             "Allow: /news/\n"
             "Disallow: /private/\n")
    rows = [(f"site{d}.example", rules) for d in range(N_DOMAINS)]
    rows.append(("toi-epaper.example", "User-agent: *\nAllow: /\n"))
    return rows


def _phase_crawl(master_cores: str) -> None:
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from siren_spark.crawl import CrawlConfig, run_crawl
    from siren_spark.session import get_spark

    spark = get_spark(
        f"local[{master_cores}]", app_name="spot_politeness",
        shuffle_partitions=max(int(master_cores) * 2, 16),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(3 * 1024 * 1024),
        },
    )
    pages = spark.read.parquet(f"{BENCH_DATA}/pages")
    seeds = spark.read.parquet(f"{BENCH_DATA}/seeds")
    robots = spark.createDataFrame(_robots_rows(),
                                   "domain string, rules string")
    cfg = CrawlConfig(
        budget_per_host=BUDGET,
        salt_buckets=max(int(master_cores), 8),
        use_bloom=True, bloom_bits=1 << 22, bloom_buckets=16,
        max_rounds=40,     # deferral drain tail needs headroom
    )
    ckpt = tempfile.mkdtemp(prefix="siren_spot_ckpt_")
    try:
        from siren_spark.functions.udfs import canonicalize_udf
        spark.range(0, int(master_cores) * 4, 1, int(master_cores) * 4) \
            .select(canonicalize_udf(F.concat(F.lit("https://w.example/"),
                                              F.col("id").cast("string")))) \
            .write.format("noop").mode("overwrite").save()
        pages.select(F.length("html")).write.format("noop") \
            .mode("overwrite").save()
        # warm the engine path end-to-end (extract kernels, Arrow
        # pipeline, window/join codegen, checkpoint writes) exactly as
        # bench.py does, so round 0 measures crawl work rather than
        # first-use JIT/fork costs — including the politeness window
        # codegen this spot exists to measure
        from siren_spark.testing.frames import pages_df, seeds_df
        from siren_spark.testing.sitegen import (
            WINDOW_END, WINDOW_START, SiteSpec, build_site,
        )
        wsite = build_site(SiteSpec(mirror_seed_range=(10, 12)))
        wcfg = CrawlConfig(
            budget_per_host=5, window_start=WINDOW_START,
            window_end=WINDOW_END, use_bloom=True,
            bloom_bits=1 << 16, bloom_buckets=4, max_rounds=2)
        wck = tempfile.mkdtemp(prefix="siren_spot_warm_")
        try:
            run_crawl(spark, pages_df(spark, wsite.pages),
                      seeds_df(spark, wsite.seeds), wcfg, wck,
                      robots=robots)
        finally:
            shutil.rmtree(wck, ignore_errors=True)
        import bench
        jiff0 = bench._cpu_jiffies()
        t0 = time.time()
        res = run_crawl(spark, pages, seeds, cfg, ckpt, robots=robots)
        dt = time.time() - t0
        cpu_mix = bench._cpu_mix(jiff0, bench._cpu_jiffies())
        agg = {r["metric"]: int(r["n"]) for r in
               (res.counters.groupBy("metric").agg(F.sum("n").alias("n"))
                .collect())}
        fetched = agg.get("fetched", 0)
        extracted = agg.get("records", 0)
        ss_sec = sum(res.round_secs[1:]) if res.round_secs else 0.0
        ss_urls = sum(res.round_urls[1:]) if res.round_urls else 0
        print(json.dumps({
            "cores": int(master_cores), "sec": round(dt, 2),
            "fetched": fetched, "extracted": extracted,
            "urls": fetched + extracted,
            "urls_per_sec": round((fetched + extracted) / dt, 1),
            "steady_sec": round(ss_sec, 2), "steady_urls": int(ss_urls),
            "steady_urls_per_sec": (round(ss_urls / ss_sec, 1)
                                    if ss_sec else None),
            "round_secs": [round(s, 2) for s in (res.round_secs or [])],
            "round_urls": list(res.round_urls or []),
            "rounds": res.rounds,
            "deferred_total": agg.get("deferred", 0),
            "robots_blocked_total": agg.get("robots_blocked", 0),
            "budget_per_host": BUDGET,
            "cpu_mix": cpu_mix,
        }))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--phase":
        _phase_crawl(sys.argv[2])
        return

    tries = int(os.environ.get("SIREN_SPOT_TRIES", "1"))
    attempts: dict[int, list[dict]] = {2: [], 8: []}
    for _i in range(tries):
        for n in (2, 8):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--phase",
                 str(n)],
                capture_output=True, text=True, timeout=3000)
            if proc.returncode != 0:
                raise RuntimeError(f"cores={n} failed:\n"
                                   f"{proc.stderr[-3000:]}")
            r = json.loads(proc.stdout.strip().splitlines()[-1])
            attempts[n].append(r)
            print(json.dumps(r), flush=True)

    def best(n: int, key: str) -> float:
        return max(a.get(key) or 0.0 for a in attempts[n])

    def minround(n: int) -> float | None:
        """Steady rate composed from the per-round MINIMUM across
        attempts — the steal-robust estimator bench.py records: the
        host's multi-minute steal storms straddle whole attempts, and
        the per-round min splices the least-stolen execution of each
        round into one synthetic clean run (urls per round are
        identical across attempts — deterministic web)."""
        rs = [a["round_secs"] for a in attempts[n] if a.get("round_secs")]
        if not rs:
            return None
        rounds = min(len(r) for r in rs)
        if rounds < 2:
            return None
        urls = attempts[n][0].get("round_urls") or []
        steady_urls = sum(urls[1:rounds])
        steady_sec = sum(min(r[i] for r in rs) for i in range(1, rounds))
        return steady_urls / steady_sec if steady_sec else None

    mr2, mr8 = minround(2), minround(8)
    summary = {
        "kind": "spot_politeness_robots_binding",
        "budget_per_host": BUDGET,
        "attempts": attempts,
        "steady_urls_per_sec": {"2": best(2, "steady_urls_per_sec"),
                                "8": best(8, "steady_urls_per_sec")},
        "minround_steady_urls_per_sec": {
            "2": round(mr2, 1) if mr2 else None,
            "8": round(mr8, 1) if mr8 else None},
        "eff_2_to_8_steady": round(
            best(8, "steady_urls_per_sec")
            / best(2, "steady_urls_per_sec") / 4.0, 3),
        "eff_2_to_8_steady_minround": (
            round(mr8 / mr2 / 4.0, 3) if mr2 and mr8 else None),
        "eff_2_to_8_whole": round(
            best(8, "urls_per_sec") / best(2, "urls_per_sec") / 4.0, 3),
        "attempts_steal_pct": {
            str(n): [(a.get("cpu_mix") or {}).get("steal_pct")
                     for a in attempts[n]] for n in attempts},
        "note": ("same bench web as bench.py, but with a binding "
                 "politeness budget (hot domain > budget every steady "
                 "round -> split-union count/join/window run) and a "
                 "robots table over every domain (gate UDF in the "
                 "measured plan); deferral drain rounds included in "
                 "whole-run figures"),
    }
    line = json.dumps(summary)
    print(line)
    out = os.environ.get("SIREN_SPOT_OUT")
    if out:
        with open(out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
