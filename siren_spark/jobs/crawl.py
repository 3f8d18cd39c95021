"""spark-submit entrypoint for the crawl engine (SURVEY.md §7.9).

Ship the package and run::

    cd <repo> && zip -r /tmp/siren_spark.zip siren_spark
    spark-submit --py-files /tmp/siren_spark.zip \
        siren_spark/jobs/crawl.py \
        --pages /data/pages --seeds /data/seeds.parquet \
        --checkpoint /data/crawl_ckpt \
        --keywords crisis rescue --budget 50 \
        --start 2022-10-01 --end 2022-12-31 [--resume]

The session runs on spark-submit's ``--master`` (``SPARK_GRAFT_MASTER``
overrides it; see session.get_spark). A packaged job keeps Spark's own
Python worker daemon, so on Python 3.11 each Python task still pays
~0.27 s of CPU re-reading Spark's archives, plus a few ms for the
``--py-files`` zip (session.py).

Mirrors the reference CLI/TOML config surface (__main__.py:23-88,
config.toml:1-16): keywords, date window, politeness budget
(= max_concurrency), plus the Spark-native knobs (bloom size, salt
buckets, max rounds). No driver-side per-row Python anywhere.

Politeness ranks keys per (domain, salt) bucket; with the default 64
salt buckets, ``--budget`` above 65536 (64 x budget > 2^22 keys)
switches to the distributed range-rank tier, whose per-task memory stays
bounded at any budget.

The scale paths are chosen from observed sizes, with no flag: a robots
table over 100,000 rows is cogrouped with the frontier instead of
broadcast (operators/robots.py ``ROBOTS_BROADCAST_MAX``), and a Bloom
filter over 64 MiB (``--bloom-bits / 8 x --bloom-buckets``) lives as a
bucketed checkpoint table (operators/seen.py
``BLOOM_BROADCAST_MAX_BYTES``). HT headlines are deduplicated across
the whole crawl, as the reference's scrape()-wide done-set does.
"""

from __future__ import annotations

import argparse
import tomllib
from datetime import datetime, timedelta


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="siren_spark distributed crawl")
    p.add_argument("--pages", required=True,
                   help="pages table path (parquet) or iceberg:<table>")
    p.add_argument("--seeds", required=True, help="seeds parquet path")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--robots", default=None,
                   help="robots parquet (domain string, rules string)")
    p.add_argument("--keywords", nargs="*", default=[])
    # accepted-and-unused, like the reference: ignore_keywords is parsed
    # by __main__.py:52 but no scraper ever reads it (SURVEY §2.2 P5)
    p.add_argument("--ignore-keywords", nargs="*", default=[])
    p.add_argument("--scraper", default=None,
                   help="restrict the crawl to one source's seeds "
                        "(reference --scraper, __main__.py:47)")
    p.add_argument("--config", default=None,
                   help="TOML config (reference config.toml field names; "
                        "CLI flags win where both are given)")
    p.add_argument("--days", type=int, default=1,
                   help="window length when only one of --start/--end is "
                        "given (reference __main__.py:70-77 semantics)")
    p.add_argument("--start", default=None)
    p.add_argument("--end", default=None)
    # default applied in resolve_config so an explicit "--budget 50" and
    # an absent flag are distinguishable (TOML max_concurrency must not
    # silently override an explicit CLI value on the no-config path)
    p.add_argument("--budget", type=int, default=None)  # config.toml:10
    p.add_argument("--max-rounds", type=int, default=30)
    p.add_argument("--salt-buckets", type=int, default=64)
    p.add_argument("--bloom-bits", type=int, default=1 << 20)
    p.add_argument("--bloom-buckets", type=int, default=64)
    p.add_argument("--no-bloom", action="store_true",
                   help="keep no Bloom seen filter: every frontier URL is "
                        "confirmed exactly against the seen set (the same "
                        "crawl; the filter only narrows that confirm)")
    p.add_argument("--seen-compact-every", type=int, default=8)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--verbose", action="store_true")
    args = p.parse_args(argv)
    return resolve_config(args)


def resolve_config(args: argparse.Namespace) -> argparse.Namespace:
    """Apply the reference's config/date-window resolution rules.

    With ``--config``, the scrape config comes from the TOML alone
    (reference __main__.py:58-66: ``Config(**toml)`` replaces the
    CLI-built config — CLI keyword/window/budget flags are NOT merged)
    and the date-window defaulting is skipped entirely. Without it, the
    window defaults follow __main__.py:70-77 exactly: neither given ->
    [now, now+days]; only start -> end = start+days; only end ->
    start = end-days.
    """
    if args.config:
        with open(args.config, "rb") as f:
            cfg = tomllib.load(f)
        args.keywords = list(cfg.get("keywords", []))
        args.ignore_keywords = list(cfg.get("ignore_keywords", []))
        args.scraper = cfg.get("scraper")
        args.start = str(cfg["start"])[:10] if "start" in cfg else None
        args.end = str(cfg["end"])[:10] if "end" in cfg else None
        args.budget = int(cfg.get("max_concurrency", 50))
        return args
    if args.budget is None:
        args.budget = 50
    if not args.start and not args.end:
        args.start = datetime.now().strftime("%Y-%m-%d")
        args.end = (datetime.now()
                    + timedelta(days=args.days)).strftime("%Y-%m-%d")
    elif args.start and not args.end:
        args.end = (datetime.fromisoformat(args.start)
                    + timedelta(days=args.days)).strftime("%Y-%m-%d")
    elif args.end and not args.start:
        args.start = (datetime.fromisoformat(args.end)
                      - timedelta(days=args.days)).strftime("%Y-%m-%d")
    return args


def main(argv: list[str] | None = None) -> None:
    from siren_spark.crawl import CrawlConfig, run_crawl
    from siren_spark.session import get_spark
    from siren_spark.sources.pages import IcebergPageStore, ParquetPageStore

    args = parse_args(argv)
    # a crawl shape no round can run fails here, before a session starts
    cfg = CrawlConfig(
        budget_per_host=args.budget,
        salt_buckets=args.salt_buckets,
        max_rounds=args.max_rounds,
        use_bloom=not args.no_bloom,
        bloom_bits=args.bloom_bits,
        bloom_buckets=args.bloom_buckets,
        seen_compact_every=args.seen_compact_every,
        window_start=datetime.fromisoformat(args.start) if args.start else None,
        window_end=datetime.fromisoformat(args.end) if args.end else None,
        keywords=list(args.keywords),
        verbose=args.verbose,
    )
    spark = get_spark(app_name="siren_spark_crawl")
    if args.pages.startswith("iceberg:"):
        store = IcebergPageStore(args.pages[len("iceberg:"):])
    else:
        store = ParquetPageStore(args.pages)
    pages = store.read(spark)
    seeds = spark.read.parquet(args.seeds)
    if args.scraper and "source" in seeds.columns:
        from pyspark.sql import functions as F
        seeds = seeds.filter(F.col("source") == args.scraper)
    robots = spark.read.parquet(args.robots) if args.robots else None
    res = run_crawl(spark, pages, seeds, cfg, args.checkpoint,
                    robots=robots, resume=args.resume)
    n = res.results.count() if res.results is not None else 0
    print(f"crawl complete: rounds={res.rounds} results={n}")


if __name__ == "__main__":
    main()
