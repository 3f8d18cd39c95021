"""The crawl engine: frontier generations as DataFrame batch rounds.

One round = one micro-batch (SURVEY.md §3.1 Spark lifecycle equivalent),
structured so each round materializes exactly two heavy jobs:

1. **annotate**: ONE plan over the frontier computes every scheduling
   decision as columns — robots verdict (vectorized matcher), seen-set
   probe (Bloom filter: maybe-seen or definitely new), in-frontier dedup
   flag (a window over the (domain, __salt) politeness partitions), the
   exact confirm of the maybe-seen sliver against the seen set, and the
   per-host politeness top-k (operators/politeness.py) — and writes the
   annotated frontier with a ``status`` column
   (blocked | deduped | scheduled | deferred). Counters and the next
   round's inputs all derive from this parquet; nothing is recomputed.
2. **fetch+extract**: scheduled rows equi-join the pages store
   (co-partitioned on url_canon so only the small side shuffles) and run
   the single-pass Arrow extraction (links | records | errors).

The Bloom seen-filter is maintained incrementally: once per round the
filter update builds a filter over the round's seen-delta only
(mapInArrow) and OR-merges it into the running filter — driver-side for
a broadcast filter, as a distributed (bucket, bitmap) checkpoint table
above BLOOM_BROADCAST_MAX_BYTES — so no round rescans the seen history;
the last round, whose filter no round reads, skips it. The filter only
narrows the confirm: a run without one (``use_bloom=False``) runs the
same plan with every key a maybe, and gets the same crawl.

Each round step has one path. Every annotate is a future on the run's
thread pool: round 0's (or the resumed round's) is submitted before the
loop, round N+1's during round N's derived writes, so it overlaps them.
The crawl stops where no annotate is submitted: at max_rounds, or at an
empty next frontier, whose size (links + deferred, observed on the
writes) is exact.

Every round commits atomically (manifest rename); a killed run resumes
from the last committed round with byte-identical final state. A failed
annotate raises from ``run_crawl``; resuming re-stages it.

Determinism: every tie is broken on url_canon, so the scheduled set and
crawl ordering are independent of parallelism — what makes the N-vs-4N
scaling comparison apples-to-apples.

Counter semantics match the reference-scheduling oracle
(siren_spark/testing/oracle.py; reference cites in the ops modules):
robots_blocked, deduped (in-frontier dup + seen hit), fetched
(= scheduled, ht.py:242-247 "attempted = seen"), deferred (politeness),
missing (frontier URL absent from pages — the reference's non-200 -> []
mirror.py:53), errors (kernel exceptions, mirror.py:81-85).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field as dc_field
from datetime import datetime

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from siren_spark.functions.udfs import (
    canonicalize_udf, coalesce_to_cores, domain_udf, extract_pages,
)
from siren_spark.operators.checkpoint import CheckpointStore
from siren_spark.operators.politeness import politeness_flag
from siren_spark.operators.robots import RobotsGate
from siren_spark.operators.seen import (
    BloomFilter, bloom_bucketed, build_bloom, build_bloom_partials,
    merge_blooms, or_reduce_bitmaps, probe_bloom_broadcast,
    probe_bloom_bucketed,
)

# Client-side strict date-window filter applies only where the reference
# applies it (P1): mirror.py:61, online/telegraph.py:48, newsminute.py:81-83.
DATE_FILTERED_SOURCES = ("mirror", "tg_online", "newsminute")
# Client-side keyword filter applies only to TG epaper (epaper/telegraph.py:80-88).
KEYWORD_FILTERED_SOURCES = ("tg_epaper",)
# Post-fetch headline dedup applies only to HT: the reference keeps one
# article per headline across all editions/keywords — including the
# ' - no data -' default (ht.py:152-157 headline property + __hash__,
# ht.py:261-268 scrape()-level done-set). Deterministic winner: url asc.
HEADLINE_DEDUP_SOURCES = ("ht",)


# scheduled rows up to which the fetch join broadcasts the scheduled
# side (fetch_join='auto'; SMJ above it). The maybe-seen confirm keys on
# the same bound over the frontier: under it the Bloom-positive sliver
# broadcasts INTO the seen scan, above it the frontier splits into
# definite-new and candidate rows with a sort-merge confirm
BROADCAST_FETCH_MAX = 2_000_000

FETCH_JOINS = ("auto", "bucketed")


@dataclass
class CrawlConfig:
    budget_per_host: int = 50          # reference max_concurrency, config.toml:10
    # politeness salt (operators/politeness.py): per-task ranking work
    # is bounded per (domain, salt); salt_buckets * budget_per_host above
    # THRESHOLD_KEYS_MAX (2^22) selects the distributed range-rank tier
    salt_buckets: int = 16
    max_rounds: int = 30
    use_bloom: bool = True
    # Bloom filter shape; a total bitmap over
    # operators.seen.BLOOM_BROADCAST_MAX_BYTES (64 MiB) lives as a
    # (bucket, bitmap) checkpoint table probed by cogroup, so no single
    # machine holds it (the 10^10-URL path); smaller filters broadcast
    bloom_bits: int = 1 << 20
    bloom_buckets: int = 16
    # compact the seen-set sources once more than this many tables back
    # it (keeps every round's seen read at O(1) inputs, not O(rounds))
    seen_compact_every: int = 8
    # debug-mode invariant checks (task-side assert_true columns, a
    # python-UDF cost — never enable in a measured run): currently
    # verifies domain == registrable_domain(url_canon) on every frontier
    # row, the invariant the fused (domain, __salt) dup window relies on
    debug_invariants: bool = False
    window_start: datetime | None = None
    window_end: datetime | None = None
    keywords: list[str] = dc_field(default_factory=list)
    # fetch-join strategy: 'auto' broadcasts the scheduled side up to
    # BROADCAST_FETCH_MAX rows and falls back to SMJ above it; 'bucketed'
    # assumes the pages frame reads a table bucketed on url_canon
    # (sources/pages.py BucketedParquetPageStore, or Iceberg's
    # bucket(N, url_canon)) and plans a shuffled-hash join where ONLY
    # the scheduled side shuffles — no per-round broadcast build, no
    # corpus exchange, no corpus sort (plan pinned by
    # tests/test_fetch_bucketed.py)
    fetch_join: str = "auto"
    verbose: bool = False

    def __post_init__(self) -> None:
        if self.fetch_join not in FETCH_JOINS:
            raise ValueError(f"fetch_join must be one of {FETCH_JOINS}, "
                             f"got {self.fetch_join!r}")
        for name in ("budget_per_host", "salt_buckets", "bloom_buckets"):
            if getattr(self, name) < 1:
                raise ValueError(f"{name} must be at least 1, "
                                 f"got {getattr(self, name)!r}")
        # each bucket's bitmap is bloom_bits // 8 bytes
        if self.bloom_bits < 8 or self.bloom_bits % 8:
            raise ValueError("bloom_bits must be a positive multiple of 8, "
                             f"got {self.bloom_bits!r}")


RESULT_COLS = ["source", "url", "title", "author", "location", "published",
               "text", "extra", "gen"]

FRONTIER_COLS = ["url", "url_canon", "domain", "priority", "depth", "via",
                 "meta"]


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Attach the canonical join key to the pages store — lazily.

    Deliberately NO repartition and NO cache: with the broadcast fetch
    join the pages side streams straight out of parquet every round
    (scan -> canonicalize -> hash-probe -> extract, one pipelined stage,
    column-pruned to url+html). Shuffling or caching the html column
    would move the whole corpus through memory/disk before any work
    happens — at 100 TB that is the difference between a scan and a
    catastrophe. A deployment that needs a co-partitioned join
    bucket-writes the table once at ingest (bucket(N, url_canon):
    BucketedParquetPageStore with fetch_join='bucketed') instead of
    repartitioning per crawl.
    """
    if "url_canon" in pages.columns:
        # canonical key precomputed at ingest (the production shape): the
        # scan stays pure-JVM. A pandas-UDF node here would force the
        # 20KB html column through the Arrow passthrough buffer on every
        # round — measured 5x the cost of the scan itself.
        p = pages.select("url_canon", F.col("url").alias("page_url"), "html")
    else:
        p = pages.select(
            canonicalize_udf(F.col("url")).alias("url_canon"),
            F.col("url").alias("page_url"),
            "html",
        )
    return p


def _seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    meta = (F.col("meta") if "meta" in seeds.columns
            else F.create_map().cast("map<string,string>"))
    return (
        seeds.select(F.col("url"),
                     canonicalize_udf(F.col("url")).alias("url_canon"),
                     meta.alias("meta"))
        .withColumn("domain", domain_udf(F.col("url_canon")))
        .withColumn("priority", F.lit(1.0))
        .withColumn("depth", F.lit(0))
        .withColumn("via", F.lit(None).cast("string"))
        .select(*FRONTIER_COLS)
    )


def _annotate_round(
    frontier: DataFrame,
    *,
    cfg: CrawlConfig,
    robots: RobotsGate | None = None,
    bloom: BloomFilter | DataFrame | None,
    seen_exact: DataFrame | None,
    cache_registry: list | None = None,
    broadcasts: list | None = None,
    frontier_rows: int | None = None,
) -> DataFrame:
    """One plan: robots -> dedup -> seen -> politeness, as a status column.

    ``robots`` is the run's gate (None: every URL allowed).
    ``bloom`` is the run's seen filter: a driver-side
    :class:`BloomFilter` (broadcast probe), the (bucket, bitmap) table
    (cogroup probe), or None (every key is a maybe). Whatever the filter,
    its maybe-seen rows are confirmed exactly against ``seen_exact``.
    ``cache_registry`` and ``broadcasts`` collect the frames this plan
    persists and the Bloom filter broadcast, for the caller to unpersist
    once the plan is written.
    ``frontier_rows`` is the driver's (free, observation-derived)
    estimate of this round's frontier size: it picks the seen-confirm
    join and the politeness tier."""
    # one task per core for the Python stage below (robots gate UDF,
    # broadcast Bloom probe): a coalesce, so no exchange is added and
    # the dup window's exchange stays the only full-frontier shuffle
    df = coalesce_to_cores(frontier)

    def _cache(d: DataFrame) -> DataFrame:
        d = d.persist()
        if cache_registry is not None:
            cache_registry.append(d)
        return d

    if cfg.debug_invariants:
        # the fused dup window below partitions by (domain, __salt) and
        # relies on domain being a pure function of url_canon; both
        # frontier-construction sites enforce it (functions/udfs.py:101
        # link rows, _seeds_to_frontier seeds) — this filter makes the
        # invariant fail loud instead of silently double-fetching a URL
        # whose duplicate landed in another partition. assert_true
        # returns NULL on pass, so the filter keeps every row (and the
        # expression alive against column pruning).
        df = df.filter(F.assert_true(
            F.col("domain").eqNullSafe(domain_udf(F.col("url_canon"))),
            F.concat(F.lit("frontier domain != f(url_canon): "),
                     F.col("url"))).isNull())

    df = (robots.annotate(df) if robots is not None
          else df.withColumn("__allowed", F.lit(True)))

    df = df.withColumn(
        "__salt", F.pmod(F.xxhash64("url_canon"), F.lit(cfg.salt_buckets)))

    # --- seen probe BEFORE the dup window: ``__maybe`` (False = key
    # definitely unseen). The cogroup probe repartitions the frontier by
    # bloom bucket, so the dup/politeness exchange below must stay the
    # LAST partitioning for phase 1 to reuse it; and EvalPython nodes do
    # not propagate outputPartitioning, so a broadcast-probe UDF between
    # the fused window and its consumers would hide the (domain, __salt)
    # partitioning and force politeness phase 1 to re-exchange the whole
    # frontier. Probing first keeps the WindowExec as the cached plan's
    # tail, whose partitioning the cache reports. Round 0 has no seen
    # set and no probe.
    if seen_exact is not None:
        if isinstance(bloom, BloomFilter):
            df = probe_bloom_broadcast(df, bloom, "url_canon",
                                       broadcasts=broadcasts)
        elif bloom is not None:
            # each task cogroups with exactly its bucket's bitmap — no
            # executor ever holds the full filter
            df = probe_bloom_bucketed(
                df, bloom, "url_canon",
                bits_per_bucket=cfg.bloom_bits, buckets=cfg.bloom_buckets)
        else:
            df = df.withColumn("__maybe", F.lit(True))

    # --- in-frontier dedup, FUSED into the politeness partition family:
    # domain and __salt are both functions of url_canon, so a url_canon
    # group lives entirely inside one (domain, __salt) partition and the
    # deterministic representative (first row by the dup order, blocked
    # rows sinking so a blocked duplicate never steals the spot) is a
    # lag()-based first-flag over a url_canon-leading sort. One exchange
    # then serves dedup AND politeness phase 1 — the three-window
    # annotate plan was 3 full-frontier shuffles, flat ~5 s/round cost
    # that the N->4N ratio paid at every cluster size.
    dup_order = [F.desc("__allowed"), F.desc("priority"), F.asc("depth"),
                 F.asc_nulls_first("via"), F.asc("url")]
    w_dup = Window.partitionBy("domain", "__salt").orderBy(
        F.asc("url_canon"), *dup_order)
    df = df.withColumn(
        "__first",
        F.coalesce(F.lag("url_canon").over(w_dup) != F.col("url_canon"),
                   F.lit(True)))

    # --- seen confirm: Bloom negatives skip it entirely; maybe-seen
    # rows exact-confirm against the seen set --------------------------
    if seen_exact is None:
        df = _cache(df.withColumn("__seen", F.lit(False)))
    else:
        # df is consumed multiple times below (confirm sliver + eligible
        # count + final status): persist the small flag-annotated frame
        # so the upstream (gate UDF + window + probe) runs once
        df = _cache(df)
        if frontier_rows is not None \
                and frontier_rows <= BROADCAST_FETCH_MAX:
            # INVERTED confirm: broadcast the maybe-sliver keys into the
            # seen scan (left-semi) and the tiny hit-set back onto the
            # frontier. The (big, O(crawl-history)) seen table streams
            # straight out of parquet with NO shuffle — the old
            # definite/candidate split-union sort-merge-joined the
            # full seen set every round — and both broadcast joins
            # preserve the frontier's (domain, __salt) partitioning so
            # politeness phase 1 needs no re-exchange.
            # no distinct on the sliver: duplicate build keys are free
            # in a semi-join hash set. hits IS distinct()ed — a
            # duplicate url_canon there would duplicate frontier rows
            # in the left join (the seen set is unique by invariant,
            # but this guard is one tiny-frame shuffle)
            cand = df.filter(F.col("__maybe")).select("url_canon")
            hits = (seen_exact.select("url_canon")
                    .join(F.broadcast(cand), "url_canon", "leftsemi")
                    .distinct()
                    .withColumn("__hit", F.lit(True)))
            df = (df.join(F.broadcast(hits), "url_canon", "left")
                  .withColumn("__seen",
                              F.col("__maybe")
                              & F.coalesce(F.col("__hit"), F.lit(False)))
                  .drop("__hit", "__maybe"))
        else:
            # at-scale confirm (frontier too large to broadcast its
            # sliver): classic definite/candidate split, SMJ on the
            # sliver only
            seen_keys = seen_exact.select("url_canon").withColumn(
                "__hit", F.lit(True))
            definite = df.filter(~F.col("__maybe")).withColumn(
                "__seen", F.lit(False))
            candidates = (
                df.filter(F.col("__maybe"))
                .join(seen_keys, "url_canon", "left")
                .withColumn("__seen",
                            F.coalesce(F.col("__hit"), F.lit(False)))
                .drop("__hit"))
            df = _cache(definite.drop("__maybe")
                        .unionByName(candidates.drop("__maybe")))

    df = df.withColumn(
        "__eligible",
        F.col("__allowed") & F.col("__first") & ~F.col("__seen"),
    )

    # --- politeness: exact per-host top-budget (operators/politeness.py)
    df = politeness_flag(df, budget_per_host=cfg.budget_per_host,
                         salt_buckets=cfg.salt_buckets,
                         frontier_rows=frontier_rows,
                         cache_registry=cache_registry)
    status = (
        F.when(~F.col("__allowed"), F.lit("blocked"))
        .when(~F.col("__first") | F.col("__seen"), F.lit("deduped"))
        .when(F.col("__sched"), F.lit("scheduled"))
        .otherwise(F.lit("deferred"))
    )
    # partition_id = physical lineage (which task decided this row's
    # fate); together with (gen, domain, status) this is the queryable
    # per-partition lineage the checkpoints carry (SURVEY.md §1.4)
    return df.select(*FRONTIER_COLS, status.alias("status"),
                     F.spark_partition_id().alias("partition_id"))


def _apply_result_filters(
    records: DataFrame,
    cfg: CrawlConfig,
    hl_seen: DataFrame | None = None,
) -> DataFrame:
    out = records
    if cfg.window_start is not None and cfg.window_end is not None:
        in_window = (
            F.col("published").isNotNull()
            & (F.col("published") > F.lit(cfg.window_start))   # strict (P1)
            & (F.col("published") < F.lit(cfg.window_end))
        )
        out = out.filter(
            (~F.col("source").isin(*DATE_FILTERED_SOURCES)) | in_window)
    if cfg.keywords:
        kws = F.array(*[F.lit(k.lower()) for k in cfg.keywords])
        has_kw = F.exists(
            kws,
            lambda k: (
                F.col("title").isNotNull() & (F.col("title") != F.lit(""))
                & F.contains(F.lower(F.col("title")), k)
            ) | F.contains(F.lower(F.col("text")), k),
        )
        out = out.filter(
            (~F.col("source").isin(*KEYWORD_FILTERED_SOURCES)) | has_kw)
    # A3: per-source post-extraction headline dedup (HT). Split-union so
    # ONLY dedup-source rows pay the (source, title) window shuffle —
    # mirror/toi/nm records stream through untouched (at 100x scale the
    # whole-round window was the largest avoidable shuffle in the
    # results path). ``hl_seen`` is the cross-round done-set (None in
    # round 0): titles already emitted by an earlier round anti-join out,
    # matching the reference's scrape()-spanning set (ht.py:261-268).
    is_dedup_src = F.col("source").isin(*HEADLINE_DEDUP_SOURCES)
    rest = out.filter(~is_dedup_src)
    dd = out.filter(is_dedup_src)
    w_hl = Window.partitionBy("source", "title").orderBy(F.asc("url"))
    dd = (dd.withColumn("__rn_hl", F.row_number().over(w_hl))
          .filter(F.col("__rn_hl") == 1)
          .drop("__rn_hl"))
    if hl_seen is not None:
        dd = dd.join(hl_seen, ["source", "title"], "left_anti")
    return rest.unionByName(dd)


@dataclass
class CrawlResult:
    rounds: int
    results: DataFrame | None
    counters: DataFrame | None
    seen: DataFrame | None
    round_secs: list[float] | None = None      # wall time per executed round
    round_urls: list[int] | None = None        # scheduled+extracted per round


def _next_frontier(ex: DataFrame, ann: DataFrame, gen: int) -> DataFrame:
    """Round ``gen + 1``'s frontier from round ``gen``'s extracted and
    annotated tables: the discovered links, with the deterministic
    priority/depth of that generation, plus the deferred rows. The loop
    builds it from the staged tables and resume from the committed
    ones, so there is no dedicated frontier table to write."""
    links = (ex.filter(F.col("kind") == "link")
             .select("url", "url_canon", "meta", "via", "domain")
             .withColumn("priority", F.lit(round(1.0 / (gen + 2), 6)))
             .withColumn("depth", F.lit(gen + 1))
             .select(*FRONTIER_COLS))
    return links.unionByName(
        ann.filter(F.col("status") == "deferred").select(*FRONTIER_COLS))


def _incremental_df(spark: SparkSession, sources: list[dict],
                    round_kind: str, round_filter: Column, cols: list[str],
                    ) -> DataFrame | None:
    """A cross-round set from an incremental source list: ``compact``
    entries are ``cols``-only compaction tables, ``round_kind`` entries
    are per-round tables filtered by ``round_filter``. The list is
    bounded by seen_compact_every, so each round reads O(1) tables
    instead of re-scanning every committed round (O(rounds^2) over a
    run — fatal at thousands of rounds)."""
    comp = [s["path"] for s in sources if s["kind"] == "compact"]
    rnd = [s["path"] for s in sources if s["kind"] == round_kind]
    parts = []
    if comp:
        parts.append(spark.read.parquet(*comp).select(*cols))
    if rnd:
        parts.append(spark.read.parquet(*rnd).filter(round_filter)
                     .select(*cols))
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def _seen_df(spark: SparkSession, sources: list[dict]) -> DataFrame | None:
    """The exact seen set (attempted = seen, ht.py:242-247): 'ann'
    sources are annotated frontiers, read for their scheduled rows."""
    return _incremental_df(spark, sources, "ann",
                           F.col("status") == "scheduled", ["url_canon"])


def _hl_seen_df(spark: SparkSession, sources: list[dict]) -> DataFrame | None:
    """The cross-round headline done-set (source, title): 'res' sources
    are results tables, read for the headline-dedup sources' rows."""
    return _incremental_df(spark, sources, "res",
                           F.col("source").isin(*HEADLINE_DEDUP_SOURCES),
                           ["source", "title"])


def _sources_at(store: CheckpointStore, gen: int, key: str) -> list[dict]:
    """The incremental source list ``key`` (``seen_sources`` or
    ``hl_seen_sources``) recorded in round ``gen``'s manifest."""
    stats = store.manifest(gen)["stats"]
    if key not in stats:
        raise ValueError(
            f"checkpoint {store._manifest_path(gen)} has no {key!r}: it was "
            f"written in an older format; start a fresh checkpoint dir")
    return stats[key]


# status -> user-facing counter metric (oracle.py semantics)
_METRIC_OF_STATUS = {"blocked": "robots_blocked", "deduped": "deduped",
                     "scheduled": "fetched", "deferred": "deferred"}
# extraction row kind -> counter metric ('pages' only feeds 'missing')
_METRIC_OF_KIND = {"page": "pages", "error": "errors", "record": "records"}


def _round_counters(ann_r: DataFrame, ex: DataFrame, gen: int) -> DataFrame:
    """Per-domain counters for one round as a (tiny, pre-aggregated)
    DataFrame — never collected to the driver. A web frontier has
    millions of registrable domains; this table is one row per
    (domain, metric) and lives in the round's checkpoint, while the
    manifest JSON keeps only whole-round rollups.

    One column-pruned pass: the annotated frontier's status rows and the
    extraction's page/error/record rows (their domains were computed
    inside the extraction kernel) union into (domain, metric) rows, and
    ONE groupBy(domain) counts every metric, so the plan has a single
    shuffle and no join. missing = fetched - pages: scheduled but absent
    from the pages store (the reference's non-200 -> [] path,
    mirror.py:53). 'records' rides along so the crawl loop reads its
    per-round record count from this write. Zero counts are dropped.
    """
    def metric(mapping: dict, col: str) -> Column:
        return F.create_map(
            *[F.lit(x) for kv in mapping.items() for x in kv])[F.col(col)]

    rows = ann_r.select("domain", metric(_METRIC_OF_STATUS, "status")
                        .alias("metric")).unionByName(
        ex.filter(F.col("kind").isin(*_METRIC_OF_KIND))
        .select("domain", metric(_METRIC_OF_KIND, "kind").alias("metric")))
    names = [*_METRIC_OF_STATUS.values(), "errors", "records"]
    per_domain = rows.groupBy("domain").agg(
        *[F.count_if(F.col("metric") == m).alias(m)
          for m in [*names, "pages"]])
    return (per_domain
            .withColumn("missing", F.col("fetched") - F.col("pages"))
            .unpivot("domain", [*names, "missing"], "metric", "n")
            .filter(F.col("n") > 0)
            .select(F.lit(gen).alias("gen"), "domain", "metric",
                    F.col("n").cast("long").alias("n")))


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    cfg: CrawlConfig,
    checkpoint_dir: str,
    *,
    robots: DataFrame | None = None,
    resume: bool = False,
    fail_after_round: int | None = None,  # test hook: simulate a kill
) -> CrawlResult:
    store = CheckpointStore(checkpoint_dir)
    pages_p = prepare_pages(pages)

    # the run's seen filter: a driver-side BloomFilter (broadcast
    # probe), the (bucket, bitmap) table of the bucketed mode, or None
    # (no filter: every frontier key is exact-confirmed)
    bloom: BloomFilter | DataFrame | None = None
    bucketed = cfg.use_bloom and bloom_bucketed(cfg.bloom_bits,
                                                cfg.bloom_buckets)
    # the bucketed table is probed with the run's shape; a checkpoint
    # records the shape it was built with, and resume reads the table
    # only when both agree
    bloom_shape = {"bits_per_bucket": cfg.bloom_bits,
                   "buckets": cfg.bloom_buckets}

    def _build_delta_bloom(delta: DataFrame) -> BloomFilter:
        return build_bloom(delta, "url_canon",
                           bits_per_bucket=cfg.bloom_bits,
                           buckets=cfg.bloom_buckets)

    def _delta_partials(delta: DataFrame) -> DataFrame:
        return build_bloom_partials(delta, "url_canon",
                                    bits_per_bucket=cfg.bloom_bits,
                                    buckets=cfg.bloom_buckets)

    seen_sources: list[dict] = []
    hl_sources: list[dict] = []
    if resume and (last := store.latest_gen()) is not None:
        start_gen = last + 1
        seen_sources = _sources_at(store, last, "seen_sources")
        hl_sources = _sources_at(store, last, "hl_seen_sources")
        frontier = _next_frontier(store.read(spark, last, "extracted"),
                                  store.read(spark, last, "frontier_ann"),
                                  last)
        seen_exact = _seen_df(spark, seen_sources)
        if (cfg.use_bloom and seen_exact is not None
                and start_gen < cfg.max_rounds):
            if bucketed:
                last_stats = store.manifest(last)["stats"]
                bloom = (
                    spark.read.parquet(last_stats["bloom_table"])
                    if "bloom_table" in last_stats
                    and last_stats.get("bloom_shape") == bloom_shape
                    else or_reduce_bitmaps(_delta_partials(seen_exact)))
            else:
                bloom = _build_delta_bloom(seen_exact)
    else:
        start_gen = 0
        frontier = _seeds_to_frontier(seeds)

    # the exact frontier size: free from each round's observations
    # (links + deferred); on a fresh start or resume one cheap count
    # (tiny seed table / row-group stats). It picks the seen-confirm
    # strategy and the politeness whole-frontier fast path, and it is
    # the stop rule's input (round 0 used to run with no estimate, which
    # forced the hot-domain count/join/window machinery even for a seed
    # list far under the budget: pure fixed round-0 cost at every
    # cluster size)
    frontier_rows = (0 if start_gen >= cfg.max_rounds
                     else frontier.count() if start_gen else seeds.count())

    def _log(msg: str) -> None:
        if cfg.verbose:
            print(f"[crawl] {msg}", flush=True)

    round_secs: list[float] = []
    round_urls: list[int] = []

    def _stage_annotated(gen_: int, frontier_: DataFrame, rows_: int,
                         seen_sources_: list[dict],
                         bloom_: BloomFilter | DataFrame | None,
                         ) -> tuple[str, dict]:
        """Annotate round ``gen_``'s frontier (``rows_`` rows) against
        the seen set of ``seen_sources_`` and the filter ``bloom_``, and
        stage it; returns (path, by-status counts). A pure function of
        committed/staged inputs, run from the pool."""
        caches: list = []
        bcasts: list = []
        try:
            ann = _annotate_round(frontier_, cfg=cfg, robots=gate,
                                  bloom=bloom_,
                                  seen_exact=_seen_df(spark, seen_sources_),
                                  cache_registry=caches,
                                  broadcasts=bcasts,
                                  frontier_rows=rows_)
            # per-status counts ride the write as Observation metrics — no
            # second job over the staged parquet (part of the per-round
            # fixed cost the N->4N scaling comparison pays at every level)
            ann_obs = Observation(f"ann_{gen_}")
            ann = ann.observe(ann_obs, *[
                F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(s)
                for s in ("blocked", "deduped", "scheduled", "deferred")])
            path = store.stage_table(gen_, "frontier_ann", ann)
        finally:
            # the staged table is parquet-backed: no live plan needs the
            # caches or the round's Bloom broadcast, on any exit path
            for c in caches + bcasts:
                c.unpersist()
        return path, {k: int(v) for k, v in ann_obs.get.items() if v}

    def _annotate_future(gen_: int, frontier_: DataFrame, rows_: int,
                         seen_sources_: list[dict],
                         bloom_: BloomFilter | DataFrame | None):
        """Round ``gen_``'s annotate as a pool future, or None where the
        crawl stops: ``gen_`` reaches max_rounds or the frontier is
        empty (``rows_`` is exact)."""
        if gen_ >= cfg.max_rounds or rows_ == 0:
            return None
        return pool.submit(_stage_annotated, gen_, frontier_, rows_,
                           seen_sources_, bloom_)

    def _update_bloom(gen_: int, delta: DataFrame,
                      prev: BloomFilter | DataFrame | None,
                      ) -> tuple[BloomFilter | DataFrame, str | None]:
        """Round ``gen_ + 1``'s filter: a filter over round ``gen_``'s
        scheduled keys ``delta`` OR-merged into ``prev``, and the path
        the commit references. In bucketed mode the merged (bucket,
        bitmap) table is staged in round ``gen_``'s dir — fully
        distributed, the driver never materializes a bitmap; else the
        delta filter is OR-merged driver-side (numpy, ~ms) and there is
        no path."""
        if bucketed:
            partials = _delta_partials(delta)
            if prev is not None:
                partials = prev.unionByName(partials)
            path = store.stage_table(gen_, "bloom",
                                     or_reduce_bitmaps(partials))
            return spark.read.parquet(path), path
        return merge_blooms(prev, _build_delta_bloom(delta)), None

    # one pool for the whole run: every round's annotate runs on it
    # (round N+1's overlaps round N's derived writes and commit); the
    # filter update launches right after annotate (overlapping
    # fetch+extract); the derived writes and the seen/headline
    # compactions overlap at round end. Sized above the maximum
    # concurrent task set (2 writes — results and counters — + filter
    # update + 2 compactions + next annotate = 6), so the hl-compaction
    # task — which WAITS on the results-write future — can never be
    # queued behind it (a same-pool wait on a queued task would
    # deadlock).
    pool = ThreadPoolExecutor(max_workers=8)
    # the robots gate (operators/robots.py) is built once per run: at
    # most one matcher broadcast, released in the finally below
    gate = RobotsGate(robots) if robots is not None else None

    try:
        gen = start_gen
        ann_fut = _annotate_future(gen, frontier, frontier_rows,
                                   seen_sources, bloom)
        while ann_fut is not None:
            t0 = time.time()

            # ---- job 1: annotate + commit scheduling decisions -------------
            # a failed annotate raises here (or at the previous round's
            # end): resume from the last committed round
            ann_path, n_by_status = ann_fut.result()
            ann_r = spark.read.parquet(ann_path)
            _log(f"gen {gen} annotate {time.time()-t0:.1f}s {n_by_status}")

            # the filter update depends only on the (already staged)
            # annotated frontier — kick it off NOW so it overlaps the long
            # fetch+extract stage. In bucketed mode it lands in this
            # round's uncommitted gen dir, the commit below references it,
            # and next round's annotate reads it pre-commit — which is
            # what keeps round pipelining effective in the 10^10-scale
            # configuration. The last round's filter has no reader
            bloom_fut = None
            if cfg.use_bloom and gen + 1 < cfg.max_rounds:
                bloom_fut = pool.submit(
                    _update_bloom, gen,
                    ann_r.filter(F.col("status") == "scheduled")
                    .select("url_canon"), bloom)

            sched = ann_r.filter(F.col("status") == "scheduled")

            # ---- job 2: fetch-join + single-pass extract --------------------
            # Scheduled keys broadcast into a hash join against the pages
            # store: the (big) pages side never shuffles. Above the broadcast
            # threshold — as at true 10^10 scale — fall back to SMJ, which
            # shuffles both sides: a plain parquet corpus carries no
            # partitioning. A corpus bucketed on url_canon at ingest
            # (fetch_join='bucketed') keeps the pages side in place.
            t1 = time.time()
            fetch_side = sched.select("url", "url_canon", "meta")
            n_sched = n_by_status.get("scheduled", 0)
            if cfg.fetch_join == "bucketed":
                # pages scan is bucketed on url_canon: the scheduled
                # side shuffles into the buckets and builds per-bucket
                # hash maps; the corpus streams through them — no
                # broadcast build, no corpus exchange, no sort
                fetched = pages_p.join(fetch_side.hint("shuffle_hash"),
                                       "url_canon", "inner")
            elif n_sched <= BROADCAST_FETCH_MAX:
                fetched = pages_p.join(F.broadcast(fetch_side), "url_canon",
                                       "inner")
            else:
                fetched = fetch_side.join(pages_p, "url_canon", "inner")
            fetch_in = fetched.select("url", "html", "meta")
            # the discovered-link count rides the write as an Observation:
            # links + this round's deferred = next round's exact frontier
            # size, the stop rule's input
            ex_obs = Observation(f"ex_{gen}")
            extracted_path = store.stage_table(
                gen, "extracted",
                extract_pages(fetch_in).observe(
                    ex_obs,
                    F.sum(F.when(F.col("kind") == "link", 1)
                          .otherwise(0)).alias("links")))
            ex = spark.read.parquet(extracted_path)
            frontier_rows = (int(ex_obs.get["links"] or 0)
                             + int(n_by_status.get("deferred", 0)))
            _log(f"gen {gen} fetch+extract {time.time()-t1:.1f}s")

            # ---- cheap derivations from the two committed tables ------------
            t2 = time.time()
            results_round = _apply_result_filters(
                ex.filter(F.col("kind") == "record").drop("kind", "meta")
                  .withColumn("gen", F.lit(gen)),
                cfg,
                hl_seen=_hl_seen_df(spark, hl_sources),
            ).select(*RESULT_COLS)

            # url_canon/domain of the link rows were computed inside the
            # extraction kernel (the link strings were already in Python
            # there) — a pure column-pruned select, no UDF job over the
            # staged output; next round's annotate consumes this frame
            next_frontier = _next_frontier(ex, ann_r, gen)

            # the round's record count rides the counters write as an
            # Observation — no post-commit re-read of the counters table
            cnt_obs = Observation(f"cnt_{gen}")
            counters_df = _round_counters(ann_r, ex, gen).observe(
                cnt_obs,
                F.sum(F.when(F.col("metric") == "records", F.col("n"))
                      .otherwise(F.lit(0))).alias("n_rec"))
            # The three derived tables depend only on the two committed
            # parquet tables (ann_r, ex) and are independent of each other —
            # stage them from concurrent driver threads so the cluster runs
            # them as overlapping jobs (tail tasks of one fill the slots of
            # another) instead of paying scheduling latency + straggler tail
            # three times in sequence.
            # Per-round serial cost is exactly what the N->4N scaling
            # comparison pays at every cluster size.
            tw = time.time()
            seen_sources_next = seen_sources + [{"path": ann_path,
                                                 "kind": "ann"}]

            # NO dedicated "frontier" table: _next_frontier rebuilds it
            # from links(extracted) + deferred(frontier_ann), both staged
            # this round, so writing it again would be a redundant
            # ~frontier-sized parquet job in every round's derived-writes
            # window (resume calls it on the committed tables)
            futs = {name: pool.submit(store.stage_table, gen, name, df)
                    for name, df in (("results", results_round),
                                     ("counters", counters_df))}
            # seen/headline compactions fold into the same overlap window
            # (previously serial staging steps after the writes — ~1 s of
            # per-round critical path whenever they fired): the seen
            # compaction reads only already-staged annotated frontiers; the
            # headline compaction additionally waits on the results write
            # future (its pool slot is guaranteed — see max_workers above —
            # and stage_table paths are deterministic, so the source list
            # can be built before the write lands)
            seen_sources = seen_sources_next
            compact_fut = None
            if len(seen_sources) > cfg.seen_compact_every:
                compact_fut = pool.submit(
                    store.stage_table, gen, "seen_compact",
                    _seen_df(spark, seen_sources))
            hl_fut = None
            hl_sources_next = hl_sources + [
                {"path": os.path.join(store._gen_dir(gen), "results"),
                 "kind": "res"}]
            if len(hl_sources_next) > cfg.seen_compact_every:

                def _stage_hl_compact() -> str:
                    futs["results"].result()   # read-after-write dep
                    return store.stage_table(
                        gen, "hl_compact",
                        _hl_seen_df(spark, hl_sources_next))

                hl_fut = pool.submit(_stage_hl_compact)
            # round pipelining: round N+1's annotate depends only on round
            # N's STAGED tables and the updated filter, not on the derived
            # writes, so it runs concurrently with them — taking the ~flat
            # annotate latency off the round critical path. Safe under
            # kills: the staged tables are uncommitted, and resume
            # rebuilds them from the same deterministic committed inputs
            bloom_path = None
            if bloom_fut is not None:
                bloom, bloom_path = bloom_fut.result()
            ann_fut = _annotate_future(gen + 1, next_frontier, frontier_rows,
                                       seen_sources_next, bloom)
            # the manifest commits exactly the paths stage_table returned
            staged = {"frontier_ann": ann_path, "extracted": extracted_path}
            staged.update((name, f.result()) for name, f in futs.items())
            _log(f"gen {gen}   write results|counters "
                 f"{time.time()-tw:.1f}s")

            # seen bookkeeping: this round's scheduled rows extend the seen
            # set; compacted every seen_compact_every rounds so reads stay
            # O(1)-table (amortized O(1) per round, staged concurrently
            # above)
            if compact_fut is not None:
                staged["seen_compact"] = compact_fut.result()
                seen_sources = [{"path": staged["seen_compact"],
                                 "kind": "compact"}]
            hl_sources = hl_sources_next
            if hl_fut is not None:
                staged["hl_compact"] = hl_fut.result()
                hl_sources = [{"path": staged["hl_compact"],
                               "kind": "compact"}]

            stats: dict = {
                "by_status": {k: int(v) for k, v in n_by_status.items()},
                "seen_sources": seen_sources,
                "hl_seen_sources": hl_sources,
            }
            if bloom_path is not None:
                # the checkpoint carries the bucketed filter state
                staged["bloom"] = stats["bloom_table"] = bloom_path
            if bucketed:
                stats["bloom_shape"] = bloom_shape

            store.write_round(gen, staged, stats=stats)
            # the round timer closes only after every overlapped task the
            # round started has landed — next round's annotate included —
            # so steady-state throughput does not hide pipelined work in
            # the gap between timers
            if ann_fut is not None:
                ann_fut.result()
            _log(f"gen {gen} commit {time.time()-t2:.1f}s "
                 f"total {time.time()-t0:.1f}s")
            round_secs.append(time.time() - t0)
            n_rec = int(cnt_obs.get["n_rec"] or 0)
            round_urls.append(int(n_by_status.get("scheduled", 0)) + n_rec)

            if fail_after_round is not None and gen >= fail_after_round:
                raise RuntimeError(f"simulated kill after round {gen}")
            gen += 1

    except BaseException:
        # a failing Spark action must not leave non-daemon pool
        # workers driving queued jobs (concurrent.futures' atexit
        # join would otherwise block interpreter shutdown until an
        # in-flight next-round annotate finishes): cancel queued
        # work and surface the error. An in-flight staged write lands
        # in an uncommitted gen dir that resume ignores and cleans.
        pool.shutdown(wait=False, cancel_futures=True)
        raise
    finally:
        # on every exit path: returned frames are all parquet-backed (no
        # live plan holds the gate UDF), and an in-flight annotate of a
        # failed run re-reads the matcher from the driver
        if gate is not None:
            gate.release()
    pool.shutdown(wait=True)
    last = store.latest_gen()
    return CrawlResult(
        rounds=(last + 1 if last is not None else 0),
        results=store.read_all(spark, "results"),
        counters=store.read_all(spark, "counters"),
        seen=(_seen_df(spark, _sources_at(store, last, "seen_sources"))
              if last is not None else None),
        round_secs=round_secs,
        round_urls=round_urls,
    )


__all__ = ["CrawlConfig", "CrawlResult", "run_crawl", "prepare_pages"]
