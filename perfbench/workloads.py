"""The crawl workloads: one shared web, two crawl configurations.

crawl-bulk
    Unthrottled per-host budget, no robots table: each of the two rounds
    fetches and extracts ~7.7k pages, annotate takes the whole-frontier
    fast path and there is no robots gate.
crawl-polite
    The same web plus a robots table over every domain (the
    ``tools/spot_politeness.py`` rule shape) and ``budget_per_host=100``,
    which binds on every host: each round fetches ~1.8k pages while the
    rest of a 7.7k-13.6k-row frontier is deferred. Every round pays the
    robots gate, seen probe, politeness and dedup over that frontier, a
    full corpus scan for a small fetch, the derived writes and a seen
    compaction. ``max_rounds=2`` keeps the result deterministic and the
    run inside the benchmark's time budget.

A third workload, the 12 ``bench.py`` HEADLINE queries over a 10x
corpus, is left out: its input is the star-schema test data outside the
repository, and its metrics (suite seconds) are not the crawl metrics
every workload of this benchmark prints.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "crawl-bulk": {
        "budget_per_host": 1_000_000_000,
        "robots": False,
        "max_rounds": 30,
        # two rounds: compact the seen set once so the compaction path
        # is measured on this workload too
        "seen_compact_every": 1,
    },
    "crawl-polite": {
        "budget_per_host": 100,
        "robots": True,
        "max_rounds": 2,
        "seen_compact_every": 1,
    },
}


def crawl_config(name: str):
    from siren_spark.crawl import CrawlConfig

    w = WORKLOADS[name]
    return CrawlConfig(
        budget_per_host=w["budget_per_host"],
        max_rounds=w["max_rounds"],
        seen_compact_every=w["seen_compact_every"],
        salt_buckets=8,
        use_bloom=True, bloom_bits=1 << 20, bloom_buckets=8,
        fetch_join="bucketed",
    )
